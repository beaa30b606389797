"""Training-export sink tests (sinks/export.py)."""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nifi_tekst_bundle_spark.sinks import export


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )


def test_export_roundtrip_counts_and_manifest(spark):
    out = os.path.join(tempfile.mkdtemp(prefix="export_"), "corpus")
    m = export.export_jsonl_shards(_docs(spark), out, n_shards=4, id_col="doc_id")
    assert m["total_rows"] == 60 and m["n_shards"] == 4
    assert sum(m["shards"].values()) == 60
    disk = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert disk == m
    # gzip shard files exist under shard= dirs
    files = glob.glob(os.path.join(out, "shard=*", "*.json.gz"))
    assert files
    back = export.read_export(spark, out)
    assert back.count() == 60
    assert set(r["doc_id"] for r in back.collect()) == set(range(60))


def test_export_shard_assignment_deterministic(spark):
    base = tempfile.mkdtemp(prefix="export_det_")
    m1 = export.export_jsonl_shards(_docs(spark), os.path.join(base, "a"),
                                    n_shards=4, id_col="doc_id")
    m2 = export.export_jsonl_shards(_docs(spark), os.path.join(base, "b"),
                                    n_shards=4, id_col="doc_id")
    assert m1 == m2
    # per-shard membership identical across exports
    for s in range(4):
        a = {r["doc_id"] for r in spark.read.json(
            os.path.join(base, "a", f"shard={s}")).collect()}
        b = {r["doc_id"] for r in spark.read.json(
            os.path.join(base, "b", f"shard={s}")).collect()}
        assert a == b


def test_export_is_immutable_and_incomplete_reads_fail(spark):
    out = os.path.join(tempfile.mkdtemp(prefix="export_imm_"), "corpus")
    export.export_jsonl_shards(_docs(spark, 10), out, n_shards=2, id_col="doc_id")
    with pytest.raises(ValueError, match="immutable"):
        export.export_jsonl_shards(_docs(spark, 10), out, n_shards=2,
                                   id_col="doc_id")
    # an export dir without a manifest (crashed mid-write) refuses reads
    os.remove(os.path.join(out, "_MANIFEST.json"))
    with pytest.raises(ValueError, match="incomplete"):
        export.read_export(spark, out)


def _delta_scenario(spark, tmp_path):
    """A table with 18 rows over 6 conversations, a full export at that
    base version, then one epoch that updates conv-00, inserts conv-99 and
    fully deletes conv-01. Returns (table, v_base, full_base manifest)."""
    import pandas as pd

    from nifi_tekst_bundle_spark.table.lake import LakeTable
    from tests.conftest import spark_events

    def ev(rows):
        base = {
            "batch_id": "b0", "op": "insert", "turn_idx": 0,
            "src_conv_id": None, "src_turn_idx": None, "role": "user",
            "text": None, "tool": None, "ts": None, "schema_version": 1,
            "extra": None,
        }
        return spark_events(spark, pd.DataFrame([{**base, **r} for r in rows]))

    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        ev([{"lsn": i + 1, "conv_id": f"conv-{i % 6:02d}", "turn_idx": i // 6,
             "text": f"t{i}"} for i in range(18)]),
        fence_key="d/e0/b0", epoch_id=0,
    )
    v_base = table.manifest().version
    full_base = export.export_jsonl_shards(
        table.visible(spark), str(tmp_path / "full_base"), 4, "conv_id"
    )
    assert table.merge_batch(
        spark,
        ev([
            {"lsn": 100, "conv_id": "conv-00", "turn_idx": 0,
             "text": "updated", "op": "update"},
            {"lsn": 101, "conv_id": "conv-99", "turn_idx": 0, "text": "new"},
            {"lsn": 102, "conv_id": "conv-01", "turn_idx": 0, "op": "delete"},
            {"lsn": 103, "conv_id": "conv-01", "turn_idx": 1, "op": "delete"},
            {"lsn": 104, "conv_id": "conv-01", "turn_idx": 2, "op": "delete"},
        ]),
        fence_key="d/e1/b0", epoch_id=1,
    )
    return table, v_base, full_base


def _assert_delta_reconstructs_head(spark, table, base_dir, delta_dir):
    """Consumer contract: touched = exported keys ∪ tombstone keys, all
    derived distributively from the shard files; dropping the touched keys
    from the base export and appending the delta rows gives HEAD."""
    base_df = export.read_export(spark, base_dir)
    delta_df = export.read_export(spark, delta_dir)
    tombs = export.read_delta_tombstones(spark, delta_dir)
    exported_keys = {r[0] for r in delta_df.select("conv_id").distinct().collect()}
    tomb_keys = {r[0] for r in tombs.select("conv_id").collect()}
    assert exported_keys == {"conv-00", "conv-99"}
    assert tomb_keys == {"conv-01"}
    touched = exported_keys | tomb_keys
    applied = base_df.filter(~F.col("conv_id").isin(*touched)).unionByName(
        delta_df
    )
    head_df = table.visible(spark)
    cols = ["conv_id", "turn_idx", "text"]
    got = sorted(map(tuple, applied.select(*cols).collect()))
    want = sorted(map(tuple, head_df.select(*cols).collect()))
    assert got == want


def test_delta_export_reconstructs_head(spark, tmp_path):
    """Full export at v_base + delta export applied on top must equal a
    full export at HEAD: touched conversations replaced wholesale,
    fully-deleted conversations listed as explicit tombstones."""
    table, v_base, full_base = _delta_scenario(spark, tmp_path)
    delta = export.export_delta_jsonl(
        spark, table, v_base, str(tmp_path / "delta"), 4
    )
    d = delta["delta"]
    assert d["base_version"] == v_base
    assert d["n_touched"] == 3
    assert d["n_deleted"] == 1
    # key LISTS never appear in the manifest (VERDICT r4 #3: a backfill
    # epoch touching millions of keys must not serialize them driver-side)
    assert "touched_keys" not in d and "deleted_keys" not in d

    _assert_delta_reconstructs_head(
        spark, table, str(tmp_path / "full_base"), str(tmp_path / "delta")
    )
    assert full_base["total_rows"] == 18
    # delta export is delta-sized, not corpus-sized
    assert delta["total_rows"] < full_base["total_rows"]


def test_delta_export_crash_leaves_no_readable_export(spark, tmp_path, monkeypatch):
    """A crash while the tombstones are written must not leave a delta
    that read_export accepts (its consumer would apply the rows without
    the deletions), and a retry into the same out_dir must succeed."""
    table, v_base, _ = _delta_scenario(spark, tmp_path)
    out = str(tmp_path / "delta")
    real = export.export_jsonl_shards

    def crash_on_tombstones(df, out_dir, *a, **k):
        if os.path.basename(out_dir) == "_tombstones":
            raise RuntimeError("injected crash during the tombstone write")
        return real(df, out_dir, *a, **k)

    monkeypatch.setattr(export, "export_jsonl_shards", crash_on_tombstones)
    with pytest.raises(RuntimeError, match="injected crash"):
        export.export_delta_jsonl(spark, table, v_base, out, 4)
    if os.path.exists(out):
        with pytest.raises(ValueError, match="incomplete"):
            export.read_export(spark, out)

    monkeypatch.setattr(export, "export_jsonl_shards", real)
    m = export.export_delta_jsonl(spark, table, v_base, out, 4)
    assert m["delta"]["n_touched"] == 3 and m["delta"]["n_deleted"] == 1
    _assert_delta_reconstructs_head(spark, table, str(tmp_path / "full_base"), out)
    # the failed attempt's staging directory was removed
    assert sorted(os.listdir(tmp_path)) == ["delta", "full_base", "t"]


def test_delta_export_manifest_is_constant_size(spark, tmp_path):
    """The delta manifest must stay O(shards) however many conversations
    an epoch touches: its byte size may not grow with the touched-key
    count (keys live in the sharded JSONL, not the JSON manifest)."""
    import pandas as pd

    from nifi_tekst_bundle_spark.table.lake import LakeTable
    from tests.conftest import spark_events

    def ev(rows):
        base = {
            "batch_id": "b0", "op": "insert", "turn_idx": 0,
            "src_conv_id": None, "src_turn_idx": None, "role": "user",
            "text": None, "tool": None, "ts": None, "schema_version": 1,
            "extra": None,
        }
        return spark_events(spark, pd.DataFrame([{**base, **r} for r in rows]))

    sizes = {}
    for label, n in [("small", 3), ("large", 120)]:
        table = LakeTable.create(spark, str(tmp_path / f"t_{label}"), n_buckets=4)
        table.merge_batch(
            spark,
            ev([{"lsn": 1, "conv_id": "conv-seed", "text": "s"}]),
            fence_key="e0", epoch_id=0,
        )
        v_base = table.manifest().version
        table.merge_batch(
            spark,
            ev([{"lsn": i + 2, "conv_id": f"conv-{i:04d}", "text": f"t{i}"}
                for i in range(n)]),
            fence_key="e1", epoch_id=1,
        )
        m = export.export_delta_jsonl(
            spark, table, v_base, str(tmp_path / f"d_{label}"), 4
        )
        assert m["delta"]["n_touched"] == n
        sizes[label] = os.path.getsize(
            os.path.join(str(tmp_path / f"d_{label}"), "_MANIFEST.json")
        )
    # 40x the touched keys, same manifest size (± a few digits of counts)
    assert sizes["large"] <= sizes["small"] + 64


def test_delta_export_empty_range_is_legitimate(spark, tmp_path):
    """Maintenance-only commits (optimize_layout, tag) advance the version
    without logical changes; a delta export over such a range must write a
    zero-shard manifest instead of crashing (ADVICE r4 #1)."""
    import pandas as pd

    from nifi_tekst_bundle_spark.table.lake import LakeTable
    from tests.conftest import spark_events

    def ev(rows):
        base = {
            "batch_id": "b0", "op": "insert", "turn_idx": 0,
            "src_conv_id": None, "src_turn_idx": None, "role": "user",
            "text": None, "tool": None, "ts": None, "schema_version": 1,
            "extra": None,
        }
        return spark_events(spark, pd.DataFrame([{**base, **r} for r in rows]))

    table = LakeTable.create(spark, str(tmp_path / "t3"), n_buckets=2)
    table.merge_batch(
        spark, ev([{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="e0", epoch_id=0,
    )
    v_base = table.manifest().version
    table.optimize_layout(spark)  # version bump, no logical change
    assert table.manifest().version > v_base
    m = export.export_delta_jsonl(
        spark, table, v_base, str(tmp_path / "d_empty"), 2
    )
    assert m["total_rows"] == 0 and m["shards"] == {}
    assert m["delta"]["n_touched"] == 0 and m["delta"]["n_deleted"] == 0
    # and the artifact is a committed (manifest-bearing) export
    assert os.path.exists(str(tmp_path / "d_empty" / "_MANIFEST.json"))


def test_delta_export_rejects_non_advancing_base(spark, tmp_path):
    from nifi_tekst_bundle_spark.table.lake import LakeTable

    table = LakeTable.create(spark, str(tmp_path / "t2"), n_buckets=2)
    with pytest.raises(ValueError, match="not below HEAD"):
        export.export_delta_jsonl(
            spark, table, table.manifest().version, str(tmp_path / "x"), 2
        )
