"""Structured Streaming runner: change-event log → fenced LakeTable commits.

The reference's NiFi scheduling model (onTrigger fires per queued FlowFile,
ReorderFiles.kt:330; framework batching via @SupportsBatching Jhove.kt:37)
becomes a Structured Streaming file source over the event log with
``foreachBatch`` applying each epoch:

- Spark checkpoints source offsets (which files belong to epoch N) —
  restart re-delivers the same epoch deterministically (NiFi's persistent
  queues, §2.6 of SURVEY.md);
- inside an epoch, producer batches (``batch_id``) apply in batch order;
  maximal runs of consecutive move-free batches coalesce into ONE fenced
  commit (LWW registers are order-independent — see plan_runs), while
  move-containing batches keep the per-batch boundary the reference's
  one-change-batch-per-onTrigger model implies;
- each (run_id, epoch, batch_id) triple is a fence key recorded inside the
  LakeTable manifest swap, so a crash between sub-batches or a re-run of a
  committed epoch re-applies nothing: exactly-once end to end, replacing
  the reference's at-least-once + compensating rollback
  (ReorderFiles.kt:372-383).

Scale note: ``maxFilesPerTrigger`` bounds epoch size; producer batches stay
whole because the tailer writes one file per batch (fixtures analogue of a
binlog segment). Hot-key skew inside an epoch needs no salting: the LWW
register fold is max/argmax, so Spark aggregates it map-side before its one
shuffle and a hot key reaches its reducer as one partial row per map task
(see lww.batch_registers).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CHANGE_EVENT_SCHEMA
from ..table.lake import LakeTable


def _source(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int,
    source_format: str = "parquet",
) -> DataFrame:
    """Streaming source → CHANGE_EVENT_SCHEMA rows.

    ``parquet``: the engine's native log segments. ``debezium``:
    JSON-lines text segments of Debezium envelopes (the binlog/WAL wire
    format real connectors emit), parsed JVM-side by
    ``sources.debezium.parse_debezium`` — malformed lines flow through as
    NULL-op rows and dead-letter inside the fenced commit, so a corrupt
    segment never stalls the stream."""
    if source_format == "parquet":
        return (
            spark.readStream.schema(CHANGE_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(events_dir)
        )
    if source_format == "debezium":
        from ..sources import debezium

        raw = (
            spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
            .text(events_dir)
        )
        return debezium.parse_debezium(raw)
    raise ValueError(
        f"unknown source_format {source_format!r}: expected 'parquet' or 'debezium'"
    )


@dataclass
class StreamStats:
    epochs_seen: int = 0
    batches_applied: int = 0
    batches_skipped: int = 0  # fence hits (re-delivery)
    commits: int = 0  # fenced manifest commits (≤ batches when coalescing)
    fence_keys: list[str] = field(default_factory=list)


def plan_runs(batch_moves: list[tuple[str, bool]]) -> list[list[str]]:
    """Group an epoch's producer batches (ascending batch_id, with a
    has-moves flag) into commit runs: maximal runs of consecutive move-free
    batches coalesce into ONE fenced commit, move-containing batches keep
    their own boundary.

    Correctness: insert/update/delete events fold through commutative LWW
    registers (operators.lww), so batch boundaries between move-free
    batches are semantically invisible; only moves read the pre-batch
    visible state and therefore need the table committed up to their own
    batch boundary. An epoch of 100 move-free producer batches pays 1
    manifest commit instead of 100 (the round-1 per-batch loop was the
    epoch-cost scale-killer)."""
    runs: list[list[str]] = []
    prev_movefree = False
    for bid, has_move in batch_moves:
        if has_move:
            runs.append([bid])
            prev_movefree = False
        elif prev_movefree:
            runs[-1].append(bid)
        else:
            runs.append([bid])
            prev_movefree = True
    return runs


def batch_move_runs(
    df: DataFrame,
) -> tuple[list[list[str]], dict[str, bool]]:
    """Shared move-detection: producer batches in ascending batch_id with
    their has-moves flag, grouped into commit runs via plan_runs. Returns
    (runs, has_move_by_batch). Used by both the streaming epoch body and
    the batch-mode apply_derived_log so the two paths cannot diverge."""
    info = (
        df.groupBy("batch_id")
        .agg(F.max((F.col("op") == "move").cast("int")).alias("has_move"))
        .orderBy("batch_id")
        .collect()
    )
    batch_moves = [(r["batch_id"], bool(r["has_move"])) for r in info]
    return plan_runs(batch_moves), dict(batch_moves)


def make_apply_fn(table: LakeTable, run_id: str, stats: StreamStats,
                  fail_after: list[int] | None = None):
    """foreachBatch body. ``fail_after`` injects a crash after N producer
    batches applied (failure-injection tests — ReorderFilesTest.kt:319-345).
    Consecutive move-free producer batches merge into one fenced commit
    (see plan_runs); the grouping is a pure function of the epoch's data,
    so a crash-restart re-derives identical fences."""

    def apply_epoch(epoch_df: DataFrame, epoch_id: int) -> None:
        stats.epochs_seen += 1
        epoch_df = epoch_df.persist()
        try:
            runs, _has_move = batch_move_runs(epoch_df)
            committed = set(table.manifest().committed)
            pref = f"{run_id}/e{epoch_id}/"

            def commit(batch_ids: list[str], fence: str) -> None:
                sub = epoch_df.filter(F.col("batch_id").isin(batch_ids))
                applied = table.merge_batch(
                    epoch_df.sparkSession, sub, fence_key=fence,
                    batch_id=",".join(batch_ids), epoch_id=epoch_id,
                )
                if applied:
                    stats.batches_applied += len(batch_ids)
                    stats.commits += 1
                    stats.fence_keys.append(fence)
                    if fail_after is not None and stats.batches_applied >= fail_after[0]:
                        raise RuntimeError("injected failure after commit")
                else:
                    stats.batches_skipped += len(batch_ids)

            for run in runs:
                if len(run) > 1:
                    # upgrade path: an epoch whose batches were committed
                    # under per-batch fences (older layout) must not
                    # re-apply as a coalesced run — that would append its
                    # dead letters and lineage a second time. PARTIAL per-batch coverage (a pre-coalescing
                    # run crashed mid-epoch) falls back to per-batch
                    # application of only the uncommitted batches: a
                    # coalesced fence over the whole run would re-append
                    # side-table rows for the already-committed ones.
                    done = [bid for bid in run if f"{pref}{bid}" in committed]
                    if len(done) == len(run):
                        stats.batches_skipped += len(run)
                        continue
                    if done:
                        for bid in run:
                            if f"{pref}{bid}" in committed:
                                stats.batches_skipped += 1
                            else:
                                commit([bid], f"{pref}{bid}")
                        continue
                else:
                    # ...and the reverse: a batch already covered by a
                    # committed coalesced-run fence (first~last range,
                    # batch ids are lexicographic) must not re-apply solo
                    spans = [
                        k[len(pref):].split("~")
                        for k in committed
                        if k.startswith(pref) and "~" in k[len(pref):]
                    ]
                    if any(lo <= run[0] <= hi for lo, hi in spans):
                        stats.batches_skipped += 1
                        continue
                # single-batch fences keep the round-1 format so existing
                # checkpoints/fence maps stay valid across upgrades
                label = run[0] if len(run) == 1 else f"{run[0]}~{run[-1]}"
                commit(run, pref + label)
        finally:
            epoch_df.unpersist()

    return apply_epoch


def start_continuous(
    spark: SparkSession,
    events_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    run_id: str = "run",
    processing_time: str = "500 milliseconds",
    max_files_per_trigger: int = 1,
    fail_after: list[int] | None = None,
    source_format: str = "parquet",
):
    """Long-running production mode: a ProcessingTime trigger that keeps
    polling ``events_dir`` for new binlog segments — the deployment shape
    of the reference's continuously scheduled processor
    (ReorderFiles.kt:330 onTrigger + the NiFi timer), where
    run_to_completion's AvailableNow is the drain-and-stop variant.

    Returns ``(query, stats)``; the caller owns the query's lifetime. Stop
    gracefully with :func:`stop_gracefully` — but exactly-once does NOT
    depend on a graceful stop: every commit is fenced inside the manifest
    swap, so a kill -9 between sub-batches resumes from the checkpoint
    with re-delivered batches fenced out (proven by
    test_processing_time_live_appends_crash_resume)."""
    stats = StreamStats()
    src = _source(spark, events_dir, max_files_per_trigger, source_format)
    q = (
        src.writeStream.foreachBatch(
            make_apply_fn(table, run_id, stats, fail_after)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=processing_time)
        .start()
    )
    return q, stats


def stop_gracefully(q, timeout_sec: float = 30.0) -> None:
    """Stop a continuous query after its in-flight trigger finishes: wait
    for the query to go idle (no new data available), then stop. Fences
    make a hard stop safe too; graceful stop just avoids wasting a
    partially applied epoch's work.

    A query that already DIED (its foreachBatch raised — e.g. a
    ConcurrentCommitError from the table) must not be reported as a clean
    stop: the caller would believe the stream drained while an unknown
    number of epochs were never applied. Surface the stored exception."""
    import time

    def _raise_if_died() -> None:
        ex = q.exception()
        if ex is not None:
            raise ex

    deadline = time.time() + timeout_sec
    while time.time() < deadline:
        if not q.isActive:
            _raise_if_died()
            return
        s = q.status
        if not s["isDataAvailable"] and not s["isTriggerActive"]:
            break
        time.sleep(0.1)
    q.stop()
    q.awaitTermination(int(timeout_sec))
    _raise_if_died()


def run_to_completion(
    spark: SparkSession,
    events_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    run_id: str = "run",
    max_files_per_trigger: int = 1,
    fail_after: list[int] | None = None,
    source_format: str = "parquet",
) -> StreamStats:
    """Consume everything currently in events_dir (Trigger.AvailableNow),
    applying fenced commits; returns stream stats. Re-invoking after a
    crash resumes from the checkpoint without dupes or gaps."""
    stats = StreamStats()
    src = _source(spark, events_dir, max_files_per_trigger, source_format)
    q = (
        src.writeStream.foreachBatch(
            make_apply_fn(table, run_id, stats, fail_after)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception:
        if fail_after is None:
            raise
        # injected crash: the query died mid-stream; caller restarts from
        # the checkpoint to prove exactly-once resume
    finally:
        if q.isActive:
            q.stop()
    return stats
