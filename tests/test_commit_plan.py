"""Spark jobs per fenced commit.

A commit's cost unit is a pass over the data, and every Spark action
inside ``LakeTable.merge_batch`` is at least one job. The counts are the
DAG scheduler's job-id delta across the call — the same measure the
commit-path benchmark reports as ``lake.commit_jobs`` — so a new action
in the commit plan shows up here before it shows up in a timing.
"""

from __future__ import annotations

import pandas as pd

from nifi_tekst_bundle_spark import fixtures, oracle
from nifi_tekst_bundle_spark.table.lake import LakeTable

from .conftest import normalize_frame, spark_events, spark_seed

# Upper bounds on jobs per commit (local[8], 8 shuffle partitions). Five
# actions: the raw-batch aggregate (2 jobs), the lineage/touched-bucket
# aggregate over the normalized batch (3), the data write (4), the
# dead-letter count (3) and write (1). A move commit runs the move
# expansion's shuffles inside the normalized aggregate (8) and again in
# the dead-letter count (4).
MOVE_FREE_JOBS = 13
MOVE_JOBS = 19


def _jobs(spark, fn) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    fn()
    return dag.nextJobId() - j0


def test_jobs_per_commit_are_bounded(spark, tmp_path):
    seed = fixtures.make_seed_transcripts(n_convs=20, max_turns=6)
    log = fixtures.make_event_log(
        seed, fixtures.EventLogConfig(n_batches=2, events_per_batch=60)
    )
    batches = [log.batches[0][log.batches[0]["op"] != "move"], log.batches[1]]
    assert (batches[1]["op"] == "move").any()
    table = LakeTable.create(
        spark, str(tmp_path / "t"), seed_df=spark_seed(spark, seed), n_buckets=4
    )
    jobs = [
        _jobs(spark, lambda: table.merge_batch(
            spark, spark_events(spark, b), fence_key=f"r/e{i}/b", epoch_id=i
        ))
        for i, b in enumerate(batches)
    ]
    assert table.dead_letters(spark).count() > 0  # the dead-letter write ran
    assert jobs[0] <= MOVE_FREE_JOBS, jobs
    assert jobs[1] <= MOVE_JOBS, jobs
    ora = oracle.replay(seed, batches)
    got = normalize_frame(table.visible(spark).toPandas())
    pd.testing.assert_frame_equal(got, normalize_frame(ora.state), check_dtype=False)
