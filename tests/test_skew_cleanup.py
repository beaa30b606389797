"""Hot-key commit + cascade cleanup operator tests."""

from __future__ import annotations

import pandas as pd

from nifi_tekst_bundle_spark.operators import cleanup


def test_merge_batch_hot_key_matches_oracle(spark, tmp_path):
    """A batch with 90% of its events on one conversation commits through
    merge_batch to exactly the sequential oracle's table and dead letters
    (the register fold's map-side partial aggregation is exact)."""
    from nifi_tekst_bundle_spark import fixtures, oracle
    from nifi_tekst_bundle_spark.table.lake import LakeTable
    from .conftest import normalize_frame, spark_events, spark_seed

    seed = fixtures.make_seed_transcripts(n_convs=6, max_turns=4)
    log = fixtures.make_event_log(
        seed,
        fixtures.EventLogConfig(
            n_batches=2, events_per_batch=80, hot_fraction=0.9, n_hot=1
        ),
    )
    ora = oracle.replay(seed, log.batches)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), seed_df=spark_seed(spark, seed), n_buckets=4
    )
    for i, b in enumerate(log.batches):
        assert t.merge_batch(
            spark, spark_events(spark, b), fence_key=f"r/e{i}", epoch_id=i
        )
    got = normalize_frame(t.visible(spark).toPandas())
    want = normalize_frame(ora.state)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert t.dead_letters(spark).count() == len(ora.dead_letters)


def test_cascade_cleanup(spark):
    pre = spark.createDataFrame([("c1",), ("c2",), ("c3",)], ["conv_id"])
    post = spark.createDataFrame(
        [("c1", 1), ("c3", 2)], ["conv_id", "turn_idx"]
    )  # c2 emptied
    derived = spark.createDataFrame(
        [("c1", "enr-a"), ("c2", "enr-b"), ("c3", "enr-c"), ("c2", "enr-d")],
        ["conv_id", "payload"],
    )
    emptied = cleanup.emptied_conversations(pre, post).collect()
    assert [r["conv_id"] for r in emptied] == ["c2"]
    kept = cleanup.cleanup_emptied(derived, pre, post).collect()
    assert sorted(r["payload"] for r in kept) == ["enr-a", "enr-c"]
    # cascade invalidation removes changed conversations' derived rows
    changed = spark.createDataFrame([("c1",)], ["conv_id"])
    inv = cleanup.cascade_invalidate(derived, changed).collect()
    assert sorted(r["payload"] for r in inv) == ["enr-b", "enr-c", "enr-d"]
