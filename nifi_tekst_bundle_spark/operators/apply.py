"""Per-batch CDC apply — the engine's ReorderFiles.onTrigger analogue
(reference ReorderFiles.kt:329-420): parse/validate → resolve instructions →
apply as one atomic state transition.

:func:`resolve_batch` is the one resolve chain. ``table.lake.LakeTable.
merge_batch`` wires it into bucket-pruned copy-on-write commits;
:func:`apply_log` (tests) and :func:`apply_derived_log` (the pure-SQL-
checkable catalog queries) fold it over in-memory register state.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAYLOAD_COLUMNS, promoted_columns
from . import lww, resolve


def resolve_batch(
    events: DataFrame,
    payload_cols: list[str],
    pre_visible: DataFrame | None,
    lsn_watermark: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Resolve one declarative change batch against the pre-batch state:
    validate → compaction floor → move expansion.

    ``pre_visible`` is the visible state before the batch; move sources
    resolve against it (ReorderFiles.kt:150-184). ``None`` declares that
    the batch holds no valid move: the events are then only projected,
    with no join.

    ``lsn_watermark`` is the compaction replay floor
    (``Manifest.lsn_watermark``): once compact_tombstones(w) dropped
    tombstones below w, an event with lsn < w could resurrect a compacted
    delete, so it is dead-lettered instead of applied.

    Returns (normalized, dead). ``normalized`` has columns
    ``NORMALIZED_COLS + payload_cols`` and op ∈ {insert, update, delete}.
    ``dead`` has lsn, batch_id, op, reason and ``detail``: the raw wire
    payload of an unparseable envelope (``extra['_raw']``, set by
    sources.debezium), which keeps dead letters debuggable and keeps
    DISTINCT corrupt lines distinct through the (fence_key, lsn, detail)
    read-path dedupe — they all share a NULL lsn.
    """
    promoted = [c for c in payload_cols if c not in PAYLOAD_COLUMNS]
    good, dead = resolve.validate(events, promoted)
    no_detail = F.lit(None).cast("string").alias("detail")
    detail = (
        F.try_element_at(F.col("extra"), F.lit("_raw")).alias("detail")
        if "extra" in dead.columns
        else no_detail
    )
    dead = dead.select("lsn", "batch_id", "op", "reason", detail)
    if lsn_watermark > 0:
        stale = F.lit("stale_lsn_below_compaction_watermark").alias("reason")
        dead = dead.unionByName(
            good.filter(F.col("lsn") < lsn_watermark)
            .select("lsn", "batch_id", "op", stale, no_detail)
        )
        good = good.filter(F.col("lsn") >= lsn_watermark)
    if pre_visible is None:
        return good.select(*resolve.NORMALIZED_COLS, *payload_cols), dead
    normalized, dead_moves = resolve.expand_moves(good, pre_visible, payload_cols)
    return normalized, dead.unionByName(
        dead_moves.select("lsn", "batch_id", "op", "reason", no_detail)
    )


def _fold(
    state: DataFrame | None,
    events: DataFrame,
    payload_cols: list[str],
    pre_visible: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """Resolve one batch and merge its registers into ``state`` (None =
    empty). Returns (new register state, dead letters)."""
    normalized, dead = resolve_batch(events, payload_cols, pre_visible)
    bregs = lww.batch_registers(normalized, payload_cols)
    if state is not None:
        bregs = lww.combine_registers(state, bregs, payload_cols)
    return bregs, dead


def apply_log(
    spark: SparkSession,
    seed_df: DataFrame,
    batches: list[DataFrame],
    max_schema_version: int = 99,
) -> tuple[DataFrame, DataFrame]:
    """Fold a whole event log (list of batch DataFrames, in batch order)
    onto a seed table. Test/driver helper — production uses the streaming
    runner. Returns (final_visible, dead_letters).

    localCheckpoint between folds truncates lineage so plan size stays
    constant no matter how many batches replay.
    """
    payload_cols = list(PAYLOAD_COLUMNS) + list(promoted_columns(max_schema_version))
    state = lww.seed_registers(seed_df, payload_cols)
    deads = []
    for b in batches:
        state = state.localCheckpoint(eager=True)
        state, dead = _fold(state, b, payload_cols, lww.visible(state, payload_cols))
        deads.append(dead)
    return lww.visible(state, payload_cols), reduce(DataFrame.unionByName, deads)


def _empty_visible(spark: SparkSession, payload_cols: list[str]) -> DataFrame:
    ddl = ", ".join(
        ["conv_id string", "turn_idx int"]
        + [f"{c} {'timestamp' if c == 'ts' else 'string'}" for c in payload_cols]
    )
    return spark.createDataFrame([], schema=ddl)


def apply_derived_log(
    spark: SparkSession, events: DataFrame, payload_cols: list[str]
) -> DataFrame:
    """Batch-ordered apply of a change log (single DataFrame with a
    ``batch_id`` column, raw or already validated — validating twice is a
    no-op) honoring move semantics, without a LakeTable.

    Maximal runs of consecutive move-free batches fold in ONE pass (LWW
    registers are order-independent, so batch boundaries between them are
    invisible); a move-containing batch resolves its move sources against
    the visible state accumulated so far — the same pre-batch-state rule as
    the reference's disk probe (ReorderFiles.kt:150-184) and the streaming
    runner's run coalescing (streaming.runner.plan_runs). Returns the final
    visible transcripts state."""
    from ..streaming.runner import batch_move_runs  # local: avoids cycle

    # Materialize the input ONCE: the move-detection collect, every run's
    # filter and the move expansion all re-read it, and without this the
    # whole upstream derivation (scan + validate) re-executes per pass —
    # measured 13.4s vs 1.5s for the identical-size move-free query at sf0.1.
    # localCheckpoint (not persist) so the blocks are released by the context
    # cleaner when the returned plan is dropped, instead of pinning session
    # cache until an explicit unpersist nobody is positioned to call.
    events = events.localCheckpoint(eager=True)
    runs, has_move = batch_move_runs(events)
    # Fold incrementally: registers are commutative+associative, so merging
    # each run's batch registers into the accumulated state is exact — and
    # the state computed for a move run's pre-batch resolution is REUSED by
    # the final fold instead of re-folding every event from scratch.
    state: DataFrame | None = None
    for run in runs:
        pre = None
        if any(has_move[bid] for bid in run):
            if state is None:
                pre = _empty_visible(spark, payload_cols)
            else:
                # the state feeds both the pre-visible expansion join and
                # the merge: checkpoint truncates its lineage so plan size
                # stays constant per move batch (without it each move run
                # embeds every earlier run's full plan — growth was
                # exponential in move-batch count)
                state = state.localCheckpoint(eager=True)
                pre = lww.visible(state, payload_cols)
        sub = events.filter(F.col("batch_id").isin(run))
        state, _dead = _fold(state, sub, payload_cols, pre)
    if state is None:
        return _empty_visible(spark, payload_cols)
    return lww.visible(state, payload_cols)
