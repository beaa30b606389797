"""Event resolution: validate → synthesize keys → expand moves → normalize.

The Spark transposition of the reference's instruction-building pass
(processChanges ReorderFiles.kt:304-327 + addInstruction
ReorderFiles.kt:124-189):

- key-safety validation → dead-letter route (PathSafety.kt:22-32; the
  failure relationship ReorderFiles.kt:416-418),
- deterministic id synthesis for keyless inserts (UUIDv7 fallback,
  ReorderFiles.kt:312-316),
- move expansion resolves the source payload against the *pre-batch visible
  state* — the declarative-batch semantics of the reference, which probes
  current disk state before any rename (ReorderFiles.kt:150-184) — and
  suppresses the source delete when the source key is also an upsert target
  in the same batch (swap preservation, RenameS3Utils.kt:120-133).

All pure DataFrame expressions; the only joins are move-source resolution
(small move set × bucket-pruned state) and the swap anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import PAYLOAD_COLUMNS

SAFE_KEY_REGEX = "^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$"
VALID_OPS = ("insert", "update", "delete", "move")
KEY = ["conv_id", "turn_idx"]

NORMALIZED_COLS = ["lsn", "batch_id", "op", "conv_id", "turn_idx"]


def synth_conv_id_expr() -> F.Column:
    """conv-auto-<16 uppercase hex digits of lsn> — deterministic,
    time-ordered (lsn is monotone), replay-stable."""
    return F.concat(F.lit("conv-auto-"), F.lpad(F.hex(F.col("lsn")), 16, "0"))


def payload_exprs(promoted: list[str]) -> list[F.Column]:
    """Base payload columns plus promoted schema-evolution columns pulled
    out of the ``extra`` map (the opaque pass-through fields of
    ReorderFiles.kt:396-406 becoming first-class columns)."""
    cols = [F.col(c) for c in PAYLOAD_COLUMNS]
    for c in promoted:
        cols.append(F.try_element_at(F.col("extra"), F.lit(c)).alias(c))
    return cols


def reject_reason() -> F.Column:
    """Why a raw event is dead-lettered, or NULL for a valid one. Reads only
    the envelope and key columns, never the payload, so it is the same
    before and after schema-evolution promotion."""
    is_move = F.col("op") == "move"
    bad_src = (
        F.col("src_conv_id").isNull()
        | F.col("src_turn_idx").isNull()
        | ~F.col("src_conv_id").rlike(SAFE_KEY_REGEX)
    )
    return (
        # isNull explicitly: a NULL op (e.g. an unparseable wire envelope)
        # is "no valid operation" — without it the isin() null propagates
        # and the row would fall through to a misleading missing_key
        F.when(
            F.col("op").isNull() | ~F.col("op").isin(*VALID_OPS),
            F.lit("bad_op"),
        )
        # lsn is the LWW total order; an event without one cannot be
        # sequenced (wire adapters emit NULL lsn when a binlog position
        # fails to parse — sources/maxwell.py keeps the raw line in
        # extra['_raw'] for exactly this row)
        .when(F.col("lsn").isNull(), F.lit("missing_lsn"))
        .when(F.col("conv_id").isNull() & (F.col("op") != "insert"), F.lit("missing_key"))
        .when(F.col("turn_idx").isNull(), F.lit("missing_key"))
        .when(
            F.col("conv_id").isNotNull() & ~F.col("conv_id").rlike(SAFE_KEY_REGEX),
            F.lit("unsafe_key"),
        )
        .when(is_move & bad_src, F.lit("missing_key"))
    )


def validate(events: DataFrame, promoted: list[str]) -> tuple[DataFrame, DataFrame]:
    """Split the raw event stream into (good, dead_letter).

    good has synthesized conv_ids and promoted extra columns materialized.
    dead_letter keeps the raw event plus a ``reason`` column.
    """
    tagged = events.withColumn("_reason", reject_reason())
    dead = tagged.filter(F.col("_reason").isNotNull()).withColumnRenamed(
        "_reason", "reason"
    )
    good = (
        tagged.filter(F.col("_reason").isNull())
        .drop("_reason")
        .withColumn("conv_id", F.coalesce(F.col("conv_id"), synth_conv_id_expr()))
    )
    good = good.select(
        "lsn",
        "batch_id",
        "op",
        "conv_id",
        "turn_idx",
        "src_conv_id",
        "src_turn_idx",
        *payload_exprs(promoted),
    )
    return good, dead


def expand_moves(
    good: DataFrame, pre_visible: DataFrame, payload_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Turn move events into (target upsert + swap-aware source delete).

    Returns (normalized, dead_moves) where normalized has op ∈
    {insert, update, delete} only, columns NORMALIZED_COLS + payload.
    """
    out_cols = NORMALIZED_COLS + payload_cols
    moves = good.filter(F.col("op") == "move")
    nonmoves = good.filter(F.col("op") != "move").select(*out_cols)

    src = pre_visible.select(
        F.col("conv_id").alias("src_conv_id"),
        F.col("turn_idx").alias("src_turn_idx"),
        F.lit(True).alias("_src_exists"),
        *[F.col(c).alias(f"_src_{c}") for c in payload_cols],
    )
    resolved = moves.join(src, ["src_conv_id", "src_turn_idx"], "left")
    dead_moves = (
        resolved.filter(F.col("_src_exists").isNull())
        .select(*[F.col(c) for c in moves.columns])
        .withColumn("reason", F.lit("missing_move_source"))
    )
    found = resolved.filter(F.col("_src_exists").isNotNull())

    # new-wins column merge (GenerateJsonFromProps.kt:302-322 rule):
    # explicit event payload beats the moved source row's payload
    move_upserts = found.select(
        F.col("lsn"),
        F.col("batch_id"),
        F.lit("update").alias("op"),
        F.col("conv_id"),
        F.col("turn_idx"),
        *[F.coalesce(F.col(c), F.col(f"_src_{c}")).alias(c) for c in payload_cols],
    )

    upsert_targets = (
        nonmoves.filter(F.col("op") != "delete")
        .select(*KEY)
        .union(move_upserts.select(*KEY))
        .distinct()
    )
    # swap preservation: a moved-away source survives iff something else in
    # the batch writes it (RenameS3Utils.kt:120-133 "except final destinations")
    src_deletes = (
        found.select(
            F.col("lsn"),
            F.col("batch_id"),
            F.lit("delete").alias("op"),
            F.col("src_conv_id").alias("conv_id"),
            F.col("src_turn_idx").alias("turn_idx"),
        )
        .join(upsert_targets, KEY, "left_anti")
        .select(
            "lsn",
            "batch_id",
            "op",
            "conv_id",
            "turn_idx",
            *[F.lit(None).cast("string").alias(c) if c != "ts" else F.lit(None).cast("timestamp").alias(c) for c in payload_cols],
        )
    )

    normalized = nonmoves.unionByName(move_upserts.select(*out_cols)).unionByName(
        src_deletes.select(*out_cols)
    )
    return normalized, dead_moves


def repair_dead_letters(
    dead: DataFrame,
    op_aliases: dict[str, str] | None = None,
    promoted: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Mechanical repair + re-validation of dead-lettered events — the
    poison-message drain loop: after the producer bug is identified, the
    dead-letter store is replayed through a declared fix and ONLY rows the
    full validator then accepts re-enter the pipeline (with their original
    lsns, so LWW slots them into the order they should have had).

    ``op_aliases`` maps bad op spellings to valid ones (the typical
    breakage: an upstream renames/miscases an op; the reference's failure
    relationship re-ingest after an upstream fix, ReorderFiles.kt:416-418).

    Returns (recovered_good, still_dead): recovered rows are
    validate()-normalized (synthesized ids, promoted columns); rows whose
    OTHER defects persist (e.g. an aliased op still lacking its key) stay
    dead with their fresh reason — repair never bypasses validation, it
    only rewrites fields and resubmits.

    Scale: one narrow projection over the (tiny) dead-letter table plus
    validate()'s pure expressions — no joins, no shuffle.
    """
    e = dead.drop("reason")
    if op_aliases:
        mapped = F.col("op")
        for bad, good_op in sorted(op_aliases.items()):
            if good_op not in VALID_OPS:
                raise ValueError(
                    f"alias target {good_op!r} is not a valid op {VALID_OPS}"
                )
            mapped = F.when(F.col("op") == bad, F.lit(good_op)).otherwise(mapped)
        e = e.withColumn("op", mapped)
    return validate(e, promoted or [])
