"""Seeded inputs for the commit-path benchmark.

Everything here is pure Python/NumPy and runs before Spark starts, so input
generation never lands inside a timed region. The same ``seed`` always
gives the same files, batches and read plan.

A log is a list of producer batches (pandas frames in the engine's change
event layout, the form ``oracle.replay`` consumes), laid out on disk as one
segment file per batch: Debezium JSON lines for ``bulk_replay``, native
parquet for ``tail_moves``. Both logs come from ``fixtures.make_event_log``
(``bulk_replay`` without moves, which Debezium does not have). The first
``warmup_files`` segments are drained during set-up; the rest are split into
chunk directories that the timed drain consumes one ``run_to_completion`` at
a time.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nifi_tekst_bundle_spark import fixtures

BASE_TS = fixtures.BASE_TS
_UNIX = dt.datetime(1970, 1, 1)
_SEED_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
# Unparseable lines appended to every Debezium segment (a torn tail write).
# The source parses them to NULL-op rows under batch id "tx-unknown".
CORRUPT_BATCH_ID = "tx-unknown"


@dataclass
class Inputs:
    source_format: str  # "debezium" or "parquet"
    seed_path: str
    seed_df: pd.DataFrame
    batches: list[pd.DataFrame]  # producer batches in apply order
    corrupt: list[list[str]]  # raw corrupt lines per batch
    warmup_dir: str
    chunk_dirs: list[str]
    chunk_batches: list[list[int]]  # batch indexes per chunk
    wire_bytes: list[int]  # segment bytes per batch
    lookup_keys: list[tuple[str, str]]  # (kind, conv_id)
    ts_window: tuple[dt.datetime, dt.datetime]
    hot_convs: list[str]

    @property
    def warmup_batches(self) -> list[int]:
        return list(range(len(self.batches) - sum(map(len, self.chunk_batches))))

    def events(self, idx: list[int]) -> int:
        """Log lines in the given batches, corrupt lines included."""
        return sum(len(self.batches[i]) + len(self.corrupt[i]) for i in idx)


def make_seed(rng: np.random.Generator, n_convs: int, max_turns: int = 12) -> pd.DataFrame:
    """Seed table: conversations of 1..max_turns turns, one ts per turn
    (an hour per conversation, a minute per turn, as the fixtures do)."""
    turns = rng.integers(1, max_turns + 1, n_convs)
    conv = np.repeat(np.arange(n_convs), turns)
    starts = np.repeat(np.cumsum(turns) - turns, turns)
    turn_idx = np.arange(len(conv)) - starts + 1
    pool = np.array([fixtures._text(rng, i) for i in range(2048)], dtype=object)
    tools = np.array(fixtures.TOOLS, dtype=object)
    roles = np.array(fixtures.ROLES, dtype=object)
    return pd.DataFrame(
        {
            "conv_id": np.array([f"conv-{c:06d}" for c in range(n_convs)], dtype=object)[conv],
            "turn_idx": turn_idx.astype(np.int32),
            "role": roles[turn_idx % len(roles)],
            "text": pool[rng.integers(0, len(pool), len(conv))],
            "tool": tools[rng.integers(0, len(tools), len(conv))],
            "ts": BASE_TS + pd.to_timedelta(conv * 60 + turn_idx, unit="min"),
        }
    )


def _json_col(values: pd.Series) -> np.ndarray:
    """JSON encoding of each value (``null`` for missing), cached per
    distinct value: texts come from a small pool, so this stays cheap."""
    cache: dict = {}

    def enc(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "null"
        key = json.dumps(v, sort_keys=True) if isinstance(v, dict) else v
        if key not in cache:
            cache[key] = json.dumps(v, ensure_ascii=False)
        return cache[key]

    return np.array([enc(v) for v in values], dtype=object)


def _write_debezium(df: pd.DataFrame, corrupt: list[str], path: str) -> int:
    """One envelope per event in the layout
    ``sources.debezium.parse_debezium`` reads (the inverse of
    ``to_debezium``), built column-wise; then the corrupt lines."""
    ts_us = ((df["ts"] - _UNIX) // pd.Timedelta(microseconds=1)).astype(str).to_numpy(object)
    row = (
        '{"conv_id": ' + _json_col(df["conv_id"])
        + ', "turn_idx": ' + df["turn_idx"].astype(str).to_numpy(object)
        + ', "role": ' + _json_col(df["role"])
        + ', "text": ' + _json_col(df["text"])
        + ', "tool": ' + _json_col(df["tool"])
        + ', "ts_us": ' + ts_us
        + ', "extra": ' + _json_col(df["extra"])
        + ', "schema_version": ' + df["schema_version"].astype(str).to_numpy(object)
        + "}"
    )
    op = df["op"].map(lambda o: {"insert": "c", "update": "u", "delete": "d"}.get(o, o))
    is_del = (op == "d").to_numpy()
    lines = (
        '{"op": ' + _json_col(op)
        + ', "ts_ms": null, "source": {"lsn": ' + df["lsn"].astype(str).to_numpy(object)
        + ', "txId": ' + _json_col(df["batch_id"])
        + '}, "before": ' + np.where(is_del, row, "null")
        + ', "after": ' + np.where(is_del, "null", row)
        + "}"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(list(lines) + corrupt) + "\n")
    return os.path.getsize(path)


def _write_parquet(df: pd.DataFrame, path: str) -> int:
    fixtures.write_event_log_parquet(fixtures.GeneratedLog([df]), os.path.dirname(path))
    os.replace(os.path.join(os.path.dirname(path), "batch-00000.parquet"), path)
    return os.path.getsize(path)


def _lookup_plan(
    rng: np.random.Generator, n: int, hot: list[str], cold: list[str],
    landed: list[str],
) -> list[tuple[str, str]]:
    """A quarter hot keys, a third other seeded keys, a quarter keys the
    log moved or inserted into, the rest absent; shuffled."""
    n_hot, n_cold, n_land = n // 4, n // 3, n // 4
    plan = (
        [("hot", hot[i % len(hot)]) for i in range(n_hot)]
        + [("cold", str(k)) for k in rng.choice(cold, n_cold, replace=False)]
        + [("landed", str(k)) for k in rng.choice(landed, n_land, replace=len(landed) < n_land)]
    )
    plan += [("absent", f"conv-absent-{i}") for i in range(n - len(plan))]
    order = rng.permutation(len(plan))
    return [plan[i] for i in order]


def make_inputs(workload: str, seed: int, sizes, work: str, chunks: int = 1) -> Inputs:
    """Generate and lay out every input of one run under ``work``
    (``sizes`` is a ``run.Sizes``; ``chunks`` timed chunks)."""
    rng = np.random.default_rng(seed)
    os.makedirs(work, exist_ok=True)
    seed_df = make_seed(rng, sizes.seed_convs)
    seed_path = os.path.join(work, "seed.parquet")
    pq.write_table(
        pa.Table.from_pandas(seed_df, schema=_SEED_SCHEMA, preserve_index=False),
        seed_path,
    )
    n_batches = sizes.warmup_files + chunks * sizes.files_per_chunk
    if workload not in ("bulk_replay", "tail_moves"):
        raise ValueError(f"unknown workload {workload!r}")
    fmt = "debezium" if workload == "bulk_replay" else "parquet"
    cfg = fixtures.EventLogConfig(
        n_batches=n_batches, events_per_batch=sizes.batch_events, seed=seed,
        extra_convs=200, include_moves=fmt == "parquet",
    )
    batches = fixtures.make_event_log(seed_df, cfg).batches
    hot = sorted(seed_df["conv_id"].unique())[: cfg.n_hot]
    # The fixture puts malformed events in even batches and schema-v2
    # inserts in the second half of the log: the timed batches must have both.
    timed = pd.concat(batches[sizes.warmup_files:])
    if not (timed["op"] == "frobnicate").any() or not (timed["schema_version"] == 2).any():
        raise ValueError(f"timed batches of {workload} lack malformed or schema-v2 events")
    corrupt = [
        [f"corrupt line {b}-{j} not-json" for j in range(2)] if fmt == "debezium" else []
        for b in range(n_batches)
    ]

    ext = "jsonl" if fmt == "debezium" else "parquet"
    dirs = [os.path.join(work, "warmup")] + [
        os.path.join(work, f"chunk{k}") for k in range(chunks)
    ]
    owner = [0] * sizes.warmup_files + [
        1 + k for k in range(chunks) for _ in range(sizes.files_per_chunk)
    ]
    wire = []
    # the file source takes segments oldest first: make mtimes follow the log
    mtime0 = int(time.time()) - len(batches) - 60
    for i, (df, d) in enumerate(zip(batches, owner)):
        os.makedirs(dirs[d], exist_ok=True)
        path = os.path.join(dirs[d], f"seg-{i:05d}.{ext}")
        wire.append(
            _write_debezium(df, corrupt[i], path) if fmt == "debezium"
            else _write_parquet(df, path)
        )
        os.utime(path, (mtime0 + i, mtime0 + i))
    chunk_batches = [
        [i for i, d in enumerate(owner) if d == 1 + k] for k in range(chunks)
    ]

    # read plan: keys the first timed chunk is guaranteed to have reached
    early = pd.concat(
        [batches[i] for i in range(sizes.warmup_files)] + [batches[i] for i in chunk_batches[0]]
    )
    cold = sorted(set(seed_df["conv_id"]) - set(hot))
    if fmt == "debezium":  # conversations the log created
        landed = set(early.loc[early["op"] == "insert", "conv_id"].dropna())
        landed -= set(seed_df["conv_id"]) | {"../evil"}
    else:  # conversations a move landed in
        landed = set(early.loc[early["op"] == "move", "conv_id"].dropna()) - set(hot)
    lookup_keys = _lookup_plan(rng, sizes.lookups, hot, cold, sorted(landed))
    span_h = int(sizes.seed_convs)  # seed ts spans one hour per conversation
    lo = BASE_TS + dt.timedelta(hours=int(rng.integers(24, max(25, span_h - 72))))
    return Inputs(
        source_format=fmt,
        seed_path=seed_path,
        seed_df=seed_df,
        batches=batches,
        corrupt=corrupt,
        warmup_dir=dirs[0],
        chunk_dirs=dirs[1:],
        chunk_batches=chunk_batches,
        wire_bytes=wire,
        lookup_keys=lookup_keys,
        ts_window=(lo, lo + dt.timedelta(hours=48)),
        hot_convs=list(hot),
    )
