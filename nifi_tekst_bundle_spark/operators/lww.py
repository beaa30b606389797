"""Per-key, per-column last-writer-wins registers — the engine's heart.

Replaces the reference's implicit "later list position wins" ordering
(changes[] walk, ReorderFiles.kt:311-326; dedup RenameS3Utils.kt:52) with an
explicit, commutative LWW register keyed by ``lsn``:

per key:   _lsn_del = max lsn of any delete
           _lsn_up  = max lsn of any upsert
per payload column c: (_l_c, c) = highest-lsn non-null assignment

Row visible  ⟺  _lsn_up > _lsn_del.
Column visible ⟺ _l_c > _lsn_del.

Because (max, argmax-by-lsn) is associative and commutative, register
states computed over any partitioning of the event log merge to the same
result — micro-batch boundaries and arrival order cannot change the final
table. This is what lets the distributed engine match the sequential oracle
bit-for-bit and makes epoch replay idempotent.

Everything here is built-in Spark expressions (whole-stage codegen, one
shuffle per groupBy/join) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY = ["conv_id", "turn_idx"]


def register_columns(payload_cols: list[str]) -> list[str]:
    cols = KEY + ["_lsn_up", "_lsn_del"]
    for c in payload_cols:
        cols += [c, f"_l_{c}"]
    return cols


def batch_registers(normalized: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Aggregate a normalized event batch (op ∈ {insert,update,delete}) into
    per-key registers. Single aggregate → one shuffle on the key.

    This is also the engine's hot-key skew handling: every aggregate is a
    max, so Spark runs ``partial_max`` map-side below the one Exchange and
    a hot key reaches its reducer as at most one partial row per map task
    (pinned by test_batch_registers_partial_agg_below_one_exchange; the
    ``cdc_hot_key`` query runs ~50% of a batch on one key).

    The argmax-by-lsn per column uses max over struct(lsn, value): Spark
    orders structs lexicographically and max ignores nulls, so
    ``max(when(value is not null, struct(lsn, value)))`` IS the highest-lsn
    non-null assignment.
    """
    is_del = F.col("op") == "delete"
    aggs = [
        F.coalesce(F.max(F.when(~is_del, F.col("lsn"))), F.lit(-1)).alias("_lsn_up"),
        F.coalesce(F.max(F.when(is_del, F.col("lsn"))), F.lit(-1)).alias("_lsn_del"),
    ]
    for c in payload_cols:
        aggs.append(
            F.max(
                F.when(
                    (~is_del) & F.col(c).isNotNull(),
                    F.struct(F.col("lsn").alias("l"), F.col(c).alias("v")),
                )
            ).alias(f"_m_{c}")
        )
    agg = normalized.groupBy(*KEY).agg(*aggs)
    return agg.select(
        *KEY,
        "_lsn_up",
        "_lsn_del",
        *[
            x
            for c in payload_cols
            for x in (
                F.col(f"_m_{c}.v").alias(c),
                F.coalesce(F.col(f"_m_{c}.l"), F.lit(-1)).alias(f"_l_{c}"),
            )
        ],
    )


def seed_registers(seed_df: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Lift a plain transcripts table into register form: seed rows carry
    lsn 0 (event lsns start at 1), so any event beats the seed."""
    cols: list[Column] = [F.col(k) for k in KEY] + [
        F.lit(0).cast("long").alias("_lsn_up"),
        F.lit(-1).cast("long").alias("_lsn_del"),
    ]
    for c in payload_cols:
        src = F.col(c) if c in seed_df.columns else F.lit(None).cast("string")
        cols.append(src.alias(c))
        cols.append(
            F.when(src.isNotNull(), F.lit(0))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias(f"_l_{c}")
        )
    return seed_df.select(*cols)


def _align(df: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Additive schema evolution: add any missing payload register columns
    as nulls (old snapshots simply lack late-promoted columns)."""
    out = df
    for c in payload_cols:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("string"))
        if f"_l_{c}" not in out.columns:
            out = out.withColumn(f"_l_{c}", F.lit(-1).cast("long"))
    return out.select(*register_columns(payload_cols))


def combine_registers(
    state: DataFrame, batch: DataFrame, payload_cols: list[str]
) -> DataFrame:
    """Merge batch registers into stored registers (the MERGE body).

    Full-outer join on the key. A full-outer join cannot broadcast either
    side, so it shuffles both; the batch side is the per-epoch aggregate —
    tiny relative to the table — and at scale the state side is only the
    key-touched buckets (see table.lake).
    """
    t = _align(state, payload_cols).alias("t")
    b = _align(batch, payload_cols).alias("b")
    joined = t.join(b, KEY, "full_outer")
    # join on key with USING semantics keeps unambiguous key columns
    sel: list[Column] = [F.col(k) for k in KEY]
    sel.append(
        F.greatest(
            F.coalesce(F.col("t._lsn_up"), F.lit(-1)),
            F.coalesce(F.col("b._lsn_up"), F.lit(-1)),
        ).alias("_lsn_up")
    )
    sel.append(
        F.greatest(
            F.coalesce(F.col("t._lsn_del"), F.lit(-1)),
            F.coalesce(F.col("b._lsn_del"), F.lit(-1)),
        ).alias("_lsn_del")
    )
    for c in payload_cols:
        b_wins = F.coalesce(F.col(f"b._l_{c}"), F.lit(-1)) >= F.coalesce(
            F.col(f"t._l_{c}"), F.lit(-1)
        )
        sel.append(F.when(b_wins, F.col(f"b.{c}")).otherwise(F.col(f"t.{c}")).alias(c))
        sel.append(
            F.when(b_wins, F.coalesce(F.col(f"b._l_{c}"), F.lit(-1)))
            .otherwise(F.coalesce(F.col(f"t._l_{c}"), F.lit(-1)))
            .alias(f"_l_{c}")
        )
    return joined.select(*sel)


def visible(state: DataFrame, payload_cols: list[str]) -> DataFrame:
    """Project registers to the user-facing transcripts table."""
    state = _align(state, payload_cols)
    sel: list[Column] = [F.col(k) for k in KEY]
    for c in payload_cols:
        sel.append(
            F.when(F.col(f"_l_{c}") > F.col("_lsn_del"), F.col(c))
            .otherwise(F.lit(None))
            .alias(c)
        )
    return state.filter(F.col("_lsn_up") > F.col("_lsn_del")).select(*sel)


def compact(state: DataFrame, payload_cols: list[str], lsn_watermark: int) -> DataFrame:
    """Drop tombstones older than a replay watermark: rows whose delete wins
    and whose delete lsn is below the watermark can never become visible
    again (future events carry higher lsns). The analogue of the reference's
    transient-work-file cleanup (deleteOcrWorkFiles, ReorderFiles.kt:276-298)
    applied to register state — bounds state size over a 10^10-event replay.
    """
    state = _align(state, payload_cols)
    dead = (F.col("_lsn_up") <= F.col("_lsn_del")) & (
        F.col("_lsn_del") < F.lit(lsn_watermark)
    )
    return state.filter(~dead)
