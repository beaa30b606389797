"""Round-3 table-maintenance + commit-protocol hardening.

- rebucket(): a table created small must be able to grow its bucket count
  before data grows 100x (every epoch rewrites whole touched buckets — at
  100 TB a 16-bucket table would rewrite ~6 GB per one-key epoch);
- compaction watermark: after compact_tombstones() drops tombstones below
  lsn W, replaying an event with lsn < W must dead-letter, not resurrect a
  compacted delete;
- optimistic commit retry: a ConcurrentCommitError re-reads HEAD and
  re-resolves (Iceberg-style), and the failed attempt leaves no phantom
  lineage/dead-letter rows;
- a VALID manifest beyond HEAD is never silently overwritten (only torn
  files are age-reclaimed) — recovery is an explicit vacuum() from the
  single writer;
- an epoch partially committed under per-batch fences (pre-coalescing
  layout crash) re-applies per-batch for the uncommitted remainder instead
  of double-appending side rows under a coalesced fence.
"""

from __future__ import annotations

import os
import time as _time_mod

import pandas as pd
import pytest

from nifi_tekst_bundle_spark import fixtures, oracle
from nifi_tekst_bundle_spark.streaming import runner
from nifi_tekst_bundle_spark.table.lake import ConcurrentCommitError, LakeTable

from .conftest import normalize_frame, spark_events, spark_seed


def _events(spark, rows: list[dict]):
    base = {
        "batch_id": "b0",
        "op": "insert",
        "turn_idx": 1,
        "src_conv_id": None,
        "src_turn_idx": None,
        "role": "user",
        "text": None,
        "tool": None,
        "ts": None,
        "extra": None,
        "schema_version": 1,
    }
    return spark_events(spark, pd.DataFrame([{**base, **r} for r in rows]))


def test_rebucket_preserves_state_and_new_commits_prune(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(
            spark,
            [{"lsn": i + 1, "conv_id": f"conv-{i:03d}", "text": f"t{i}"} for i in range(12)],
        ),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    before = normalize_frame(table.visible(spark).toPandas())

    table.rebucket(spark, 32)
    m = table.manifest()
    assert m.n_buckets == 32
    # state is bit-identical after the rewrite
    after = normalize_frame(table.visible(spark).toPandas())
    pd.testing.assert_frame_equal(before, after)
    # layout really is the new bucketing (buckets beyond the old count used)
    assert {f["bucket"] for f in m.files} - set(range(4))

    # subsequent merges commit against the new bucketing and stay correct
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 100, "conv_id": "conv-000", "text": "updated", "op": "update"}]),
        fence_key="r/e1/b0",
        epoch_id=1,
    )
    vis = table.visible(spark).toPandas()
    assert vis.loc[vis["conv_id"] == "conv-000", "text"].iloc[0] == "updated"
    assert len(vis) == 12
    # the one-key epoch rewrote only the touched bucket, not the table
    m2 = table.manifest()
    assert m2.n_buckets == 32
    new_paths = {f["path"] for f in m2.files} - {f["path"] for f in m.files}
    assert 0 < len(new_paths) <= 2


def test_compaction_watermark_rejects_stale_replay(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(
            spark,
            [
                {"lsn": 1, "conv_id": "conv-a", "text": "hello"},
                {"lsn": 2, "conv_id": "conv-b", "text": "other"},
                {"lsn": 3, "conv_id": "conv-a", "op": "delete"},
            ],
        ),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    assert table.visible(spark).count() == 1  # conv-a deleted

    table.compact_tombstones(spark, lsn_watermark=4)
    assert table.manifest().lsn_watermark == 4

    # replay with a FRESH fence (simulating a new checkpoint over an old
    # log): the lsn-1 upsert is below the compaction watermark — without
    # the guard it would resurrect conv-a because its tombstone is gone
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "hello"}]),
        fence_key="replay/e0/b0",
        epoch_id=1,
    )
    assert table.visible(spark).count() == 1
    dl = table.dead_letters(spark).toPandas()
    assert (dl["reason"] == "stale_lsn_below_compaction_watermark").sum() == 1
    # events at/above the watermark still apply
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 5, "conv_id": "conv-a", "text": "fresh"}]),
        fence_key="r/e2/b0",
        epoch_id=2,
    )
    assert table.visible(spark).count() == 2


def test_concurrent_commit_retries_and_leaves_no_phantom_rows(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    orig = table._write_manifest
    boom = {"left": 1}

    def flaky(m):
        if boom["left"]:
            boom["left"] -= 1
            # simulate losing a real race: the WINNING writer's commit
            # landed (HEAD advanced past our base snapshot) before we
            # raise. merge_batch only retries when HEAD moved — a loss
            # with HEAD unchanged (torn orphan / beyond-HEAD manifest)
            # would deterministically fail the same way again.
            winner = table.manifest()
            winner.version += 1
            orig(winner)
            raise ConcurrentCommitError("injected race loser")
        return orig(m)

    table._write_manifest = flaky
    bad_and_good = _events(
        spark,
        [
            {"lsn": 1, "conv_id": "conv-a", "text": "hello"},
            {"lsn": 2, "conv_id": "conv-x", "op": "frobnicate"},
        ],
    )
    assert table.merge_batch(spark, bad_and_good, fence_key="r/e0/b0", epoch_id=0)
    assert table.visible(spark).count() == 1
    # the failed attempt's side rows were cleaned up / filtered: exactly one
    # attempt's lineage survives, dead letters not duplicated
    lin = table.lineage_df(spark).toPandas()
    assert int(lin["events_applied"].sum()) == 1
    assert int(lin["dead_lettered"].fillna(0).sum()) == 1
    assert table.dead_letters(spark).count() == 1


def test_retries_exhausted_reraises(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)

    def always(m):
        raise ConcurrentCommitError("injected permanent loser")

    table._write_manifest = always
    with pytest.raises(ConcurrentCommitError):
        table.merge_batch(
            spark,
            _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
            fence_key="r/e0/b0",
            epoch_id=0,
            commit_retries=1,
        )
    # nothing landed: no visible rows, no lineage, no dead letters
    assert table.visible(spark).count() == 0
    assert table.lineage_df(spark).count() == 0
    assert table.dead_letters(spark).count() == 0


def test_valid_orphan_manifest_is_never_silently_overwritten(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    head = table.manifest().version
    # simulate a writer that died between its content replace and HEAD swap:
    # a VALID manifest at head+1 with HEAD still behind
    m = table.manifest()
    m.version = head + 1
    orphan = os.path.join(table.meta_dir, f"v{head + 1:06d}.json")
    with open(orphan, "w") as f:
        f.write(m.to_json())
    past = _time_mod.time() - 2 * LakeTable.ORPHAN_GRACE_SECONDS
    os.utime(orphan, (past, past))

    with pytest.raises(ConcurrentCommitError, match="vacuum"):
        table.merge_batch(
            spark,
            _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
            fence_key="r/e0/b0",
            epoch_id=0,
            commit_retries=0,
        )
    # explicit single-writer recovery: vacuum sweeps beyond-HEAD metadata,
    # then the commit lands
    table.vacuum()
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    assert table.visible(spark).count() == 1


def test_phantom_lineage_rows_filtered(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    # simulate a crash AFTER the side-table append but BEFORE the manifest
    # swap, where the retry re-derived different fences (an older fence
    # layout): rows exist for a fence the manifest never committed
    table._append_lineage(
        [
            {
                "fence_key": "r/e1/b1~b3",
                "epoch_id": 1,
                "batch_id": "b1,b2,b3",
                "partition_id": 0,
                "events_applied": 999,
                "upserts": 999,
                "deletes": 0,
                "dead_lettered": 0,
                "watermark_ts": None,
                "max_lag_seconds": None,
            }
        ],
        attempt="deadbeefdead",
    )
    lin = table.lineage_df(spark).toPandas()
    assert "r/e1/b1~b3" not in set(lin["fence_key"])
    assert int(lin["events_applied"].sum()) == 1


def test_partial_per_batch_fences_fall_back_to_per_batch(spark, tmp_path):
    """An epoch whose first batch committed under a per-batch fence (older
    layout) must apply only the remaining
    batches — per-batch — instead of re-applying the whole run under a
    coalesced fence (which would double-append lineage/dead letters for the
    already-committed batch)."""
    seed = fixtures.make_seed_transcripts(n_convs=8, max_turns=4)
    log = fixtures.make_event_log(
        seed,
        fixtures.EventLogConfig(
            n_batches=3, events_per_batch=30, include_moves=False,
            include_malformed=False,
        ),
    )
    events_dir = str(tmp_path / "events")
    fixtures.write_event_log_parquet(log, events_dir)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), seed_df=spark_seed(spark, seed), n_buckets=4
    )
    # pre-commit batch b00000 under its per-batch fence, as a crashed
    # pre-coalescing run would have left it (streaming epoch 0 delivers all
    # 3 files at max_files_per_trigger=3)
    b0 = spark_events(spark, log.batches[0])
    assert table.merge_batch(spark, b0, fence_key="run/e0/b00000", epoch_id=0)
    n_lineage_b0 = table.lineage_df(spark).count()

    stats = runner.run_to_completion(
        spark, events_dir, table, str(tmp_path / "ckpt"), run_id="run",
        max_files_per_trigger=3,
    )
    assert stats.batches_skipped >= 1  # b00000 fence hit
    assert stats.commits == 2  # b00001 and b00002, per-batch
    ora = oracle.replay(seed, log.batches)
    got = normalize_frame(table.visible(spark).toPandas())
    want = normalize_frame(ora.state)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the pre-committed batch's lineage was not appended a second time
    lin = table.lineage_df(spark).toPandas()
    assert (lin["fence_key"] == "run/e0/b00000").sum() == n_lineage_b0
    total = int(lin["events_applied"].sum())
    assert total == sum(len(b) for b in log.batches)


def test_vacuum_recovers_create_crash_before_first_head_swap(spark, tmp_path):
    """create() dying between the v1 manifest write and the first HEAD swap
    must not brick the table: the valid-orphan refusal directs the operator
    to vacuum(), so vacuum() has to work with NO HEAD file (everything
    beyond version 0 is an orphan) rather than crash on the missing HEAD."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, n_buckets=4)
    os.remove(os.path.join(t.meta_dir, "HEAD"))  # the crash window

    # restart path: re-create refuses to overwrite the valid orphan
    with pytest.raises(ConcurrentCommitError, match="vacuum"):
        LakeTable.create(spark, root, n_buckets=4)

    # a VALID v1 with no HEAD is ambiguous (crashed create vs completed
    # create whose HEAD was lost) — plain vacuum refuses, the explicit
    # confirmation sweeps
    with pytest.raises(RuntimeError, match="force_headless"):
        LakeTable(root).vacuum()
    removed = LakeTable(root).vacuum(force_headless=True)
    assert removed >= 1
    t2 = LakeTable.create(spark, root, n_buckets=4)
    assert t2.manifest().version == 1
    assert t2.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    assert t2.visible(spark).count() == 1


def test_stop_gracefully_surfaces_dead_query_exception():
    """A query that died from a foreachBatch exception must not be reported
    as a clean stop — the caller would believe the stream drained."""

    class DeadQuery:
        isActive = False

        def exception(self):
            return RuntimeError("foreachBatch died: ConcurrentCommitError")

    with pytest.raises(RuntimeError, match="died"):
        runner.stop_gracefully(DeadQuery())

    class CleanQuery:
        isActive = False

        def exception(self):
            return None

    runner.stop_gracefully(CleanQuery())  # genuinely clean stop: no raise


def test_vacuum_sweeps_hard_crash_phantom_side_files(spark, tmp_path):
    """kill -9 between the side-table append and the manifest swap leaves
    attempt files the read paths filter forever but nothing reclaimed —
    vacuum() must sweep them (and only them) from disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    phantom_lin = table._append_lineage(
        [
            {
                "fence_key": "r/e1/b1",
                "epoch_id": 1,
                "batch_id": "b1",
                "partition_id": -1,
                "events_applied": 0,
                "upserts": 0,
                "deletes": 0,
                "dead_lettered": 0,
            }
        ],
        attempt="deadbeefdead",
    )
    phantom_dl = os.path.join(table.dl_dir, "att-deadbeefdead")
    os.makedirs(phantom_dl)
    pq.write_table(
        pa.Table.from_pylist(
            [
                {
                    "lsn": 99,
                    "batch_id": "b1",
                    "op": "insert",
                    "reason": "r",
                    "fence_key": "r/e1/b1",
                    "attempt": "deadbeefdead",
                    "epoch_id": 1,
                }
            ]
        ),
        os.path.join(phantom_dl, "part-0.parquet"),
    )
    assert len(os.listdir(table.lineage_dir)) == 2

    table.vacuum()

    assert not os.path.exists(phantom_lin)
    assert not os.path.isdir(phantom_dl)
    # the committed attempt's side files survive and reads are unchanged
    assert len(os.listdir(table.lineage_dir)) == 1
    assert table.lineage_df(spark).filter("fence_key = 'r/e0/b0'").count() > 0


def test_futile_retry_short_circuits_when_head_unchanged(spark, tmp_path):
    """When a commit loses without HEAD advancing (torn orphan in its grace
    period, valid beyond-HEAD manifest), retrying re-derives the identical
    version and fails identically — merge_batch must raise after ONE merge
    instead of re-running validation + resolution + writes per retry."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    calls = {"n": 0}

    def losing(*a, **k):
        calls["n"] += 1
        raise ConcurrentCommitError("loser, HEAD unchanged")

    table._merge_batch_once = losing
    with pytest.raises(ConcurrentCommitError):
        table.merge_batch(
            spark,
            _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
            fence_key="r/e0/b0",
            epoch_id=0,
            commit_retries=5,
        )
    assert calls["n"] == 1


def test_dead_letters_record_epoch_id(spark, tmp_path):
    """Dead-letter rows stamp the commit's epoch directly (the read path's
    phantom filter prefers it over re-parsing the fence string)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(
            spark,
            [
                {"lsn": 1, "conv_id": "conv-a", "text": "x"},
                {"lsn": 2, "conv_id": "conv-b", "op": "frobnicate"},
            ],
        ),
        fence_key="r/e7/b0",
        epoch_id=7,
    )
    raw = spark.read.option("recursiveFileLookup", "true").parquet(table.dl_dir)
    assert "epoch_id" in raw.columns
    rows = raw.select("epoch_id").collect()
    assert rows and all(r["epoch_id"] == 7 for r in rows)
    assert table.dead_letters(spark).count() == 1


def test_vacuum_refuses_when_head_lost_with_commit_history(spark, tmp_path):
    """Missing HEAD on a table whose manifests go beyond v1 means HEAD was
    LOST (restore/corruption), not a create crash — vacuum must refuse
    instead of treating every committed file as an orphan."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    os.remove(os.path.join(table.meta_dir, "HEAD"))
    with pytest.raises(RuntimeError, match="commit history"):
        LakeTable(str(tmp_path / "t")).vacuum()
    # the data is still on disk: restoring HEAD recovers the table
    with open(os.path.join(table.meta_dir, "HEAD"), "w") as f:
        f.write("2")
    assert LakeTable(str(tmp_path / "t")).visible(spark).count() == 1


def test_vacuum_refuses_corrupt_manifest_with_head(spark, tmp_path):
    """HEAD present but its manifest file truncated (partial restore) is
    proven commit history just like a missing manifest — vacuum must raise
    the documented refusal, not leak a JSON parse error, and must not
    delete anything. A torn HEAD (non-integer content) gets the same
    refusal."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    head = table._head_version()
    mpath = os.path.join(table.meta_dir, f"v{head:06d}.json")
    good = open(mpath).read()
    with open(mpath, "w") as f:
        f.write(good[: len(good) // 2])  # truncated mid-JSON
    with pytest.raises(RuntimeError, match="commit history"):
        LakeTable(str(tmp_path / "t")).vacuum()
    with open(mpath, "w") as f:
        f.write(good)  # restore → table fully recovers
    assert LakeTable(str(tmp_path / "t")).visible(spark).count() == 1

    # torn HEAD content
    with open(os.path.join(table.meta_dir, "HEAD"), "w") as f:
        f.write("garbage")
    with pytest.raises(RuntimeError, match="commit history"):
        LakeTable(str(tmp_path / "t")).vacuum()


def test_retry_absorbs_winner_mid_swap(spark, tmp_path):
    """A live race loser can observe the collision BETWEEN the winner's CAS
    create and its HEAD swap. The retry loop polls HEAD briefly before
    giving up, so a winner landing milliseconds later is absorbed."""
    import threading

    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    orig = table._write_manifest
    boom = {"left": 1}

    def flaky(m):
        if boom["left"]:
            boom["left"] -= 1

            def winner_swap():
                _time_mod.sleep(0.4)  # inside the loser's poll window
                w = table.manifest()
                w.version += 1
                orig(w)

            threading.Thread(target=winner_swap, daemon=True).start()
            raise ConcurrentCommitError("lost CAS, winner swap in flight")
        return orig(m)

    table._write_manifest = flaky
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 1, "conv_id": "conv-a", "text": "x"}]),
        fence_key="r/e0/b0",
        epoch_id=0,
    )
    assert table.visible(spark).count() == 1


def test_optimize_layout_sorts_buckets_and_preserves_everything(spark, tmp_path):
    """optimize_layout(): state bit-identical, fences still fence, every
    rewritten bucket file physically sorted by (conv_id, turn_idx), sort
    order recorded in the manifest for the optimized snapshot."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    # two commits so buckets hold multiple files in arrival (not key) order
    rows0 = [{"lsn": i + 1, "conv_id": f"conv-{(37 * i) % 50:03d}",
              "turn_idx": i % 3, "text": f"t{i}"} for i in range(40)]
    rows1 = [{"lsn": 100 + i, "conv_id": f"conv-{(11 * i) % 50:03d}",
              "turn_idx": i % 3, "text": f"u{i}", "op": "update"}
             for i in range(40)]
    assert table.merge_batch(spark, _events(spark, rows0), fence_key="o/e0/b0", epoch_id=0)
    assert table.merge_batch(spark, _events(spark, rows1), fence_key="o/e1/b0", epoch_id=1)
    before = normalize_frame(table.visible(spark).toPandas())
    v_before = table.manifest().version

    table.optimize_layout(spark)
    m = table.manifest()
    assert m.version == v_before + 1
    assert m.sort_order == ["conv_id", "turn_idx"]
    after = normalize_frame(table.visible(spark).toPandas())
    pd.testing.assert_frame_equal(before, after)

    # every data file is physically key-sorted
    for f in m.files:
        pdf = pd.read_parquet(f["path"])[["conv_id", "turn_idx"]]
        assert list(pdf.itertuples(index=False)) == sorted(
            pdf.itertuples(index=False)
        ), f"unsorted file {f['path']}"

    # fences carried over: re-delivering an applied epoch is still a no-op
    assert not table.merge_batch(
        spark, _events(spark, rows0), fence_key="o/e0/b0", epoch_id=0
    )
    # point lookup unaffected
    got = table.lookup(spark, "conv-000").toPandas()
    assert (got["conv_id"] == "conv-000").all() and len(got) > 0

    # a later epoch commit appends unsorted files again -> declaration resets
    assert table.merge_batch(
        spark,
        _events(spark, [{"lsn": 500, "conv_id": "conv-000", "turn_idx": 0,
                         "text": "fresh"}]),
        fence_key="o/e2/b0", epoch_id=2,
    )
    assert table.manifest().sort_order == []


def test_optimize_layout_rejects_unknown_sort_column(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t2"), n_buckets=2)
    with pytest.raises(ValueError, match="unknown sort columns"):
        table.optimize_layout(spark, sort_cols=("no_such_col",))
