"""LakeTable — an Iceberg-semantics-compatible snapshot table on parquet.

The environment has no Iceberg runtime jar, so the engine ships its own
minimal lakehouse layer with the same commit semantics (SURVEY.md §7
fallback plan):

- immutable parquet data files, grouped into hash buckets of ``conv_id``
  (``PARTITIONED BY (bucket(N, conv_id))`` in Iceberg terms) — point
  lookups, MERGE joins and conversation-prefix scans prune to buckets,
  the analogue of the reference's prefix-scoped S3 listings
  (DeleteAllS3ObjectsByPrefix.kt:115-117);
- a JSON manifest per snapshot listing data files + schema + a bounded
  fence window (lineage and dead letters live in append-only parquet
  side-tables, so manifest bytes are O(n_buckets + fence window), NOT
  O(epochs) — commit metadata cannot grow without bound over a 10^10-event
  replay), committed by atomically replacing a HEAD pointer — the
  write-new-files-then-atomic-snapshot-swap protocol that subsumes the
  reference's two-phase staged rename with rollback
  (RenameDiskUtils.kt:32-105, RenameS3Utils.kt:35-135): a crash before the
  HEAD swap leaves only unreferenced orphans, no compensation needed
  (ReorderFiles.kt:372-383 rollback becomes a no-op by construction);
- **epoch-fenced commits**: each merge carries a fence key
  (run_id/epoch_id/batch_id); the fence is recorded inside the same
  manifest swap, so re-running a committed epoch is a structural no-op —
  the exactly-once contract (the tmp-key-uniqueness + idempotence
  invariants of RenameS3UtilsTest.kt:259 / ReorderFilesTest.kt:130-132);
- MERGE is copy-on-write at bucket granularity: only buckets containing
  touched keys are rewritten, so per-epoch cost scales with the change set,
  not table size — at 100 TB with, say, 4096 buckets, an epoch touching 1%%
  of conversations rewrites ~1%% of the table and the rest is untouched
  manifest references.

Single-writer (the streaming query driver), like an Iceberg hadoop catalog
without a lock service.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time as _time
import uuid
from dataclasses import dataclass, field, replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAYLOAD_COLUMNS, promoted_columns
from ..operators import lww, resolve
from ..operators.apply import resolve_batch

BUCKET_COL = "_bucket"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot version first (optimistic
    concurrency, Iceberg-style): re-read HEAD, re-resolve, retry."""


def bucket_expr(n_buckets: int, key: str = "conv_id") -> F.Column:
    # xxhash64 is deterministic (fixed seed 42) across sessions/executors
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _batch_lineage(normalized: DataFrame, n_buckets: int) -> DataFrame:
    """Per-partition lineage counts + event-time bounds for the metrics
    table (the grown-up version of the ReorderFiles result summary,
    ReorderFiles.kt:396-406), plus each partition's set of key buckets.

    min_ts/max_ts bound each partition's event time; the caller derives the
    epoch watermark (max over partitions) and per-partition watermark lag
    (watermark − min_ts) from them. Event-time based, never wall-clock, so
    replays report identical metrics (SURVEY.md §4 determinism rule).
    """
    ts = F.col("ts") if "ts" in normalized.columns else F.lit(None).cast("timestamp")
    is_del = F.col("op") == "delete"
    return (
        normalized.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("events_applied"),
            F.sum(F.when(~is_del, 1).otherwise(0)).alias("upserts"),
            F.sum(F.when(is_del, 1).otherwise(0)).alias("deletes"),
            F.min(ts).alias("min_ts"),
            F.max(ts).alias("max_ts"),
            F.collect_set(bucket_expr(n_buckets)).alias("buckets"),
        )
    )


@dataclass
class Manifest:
    version: int
    payload_cols: list[str]
    n_buckets: int
    files: list[dict]  # {path, bucket, rows}
    committed: dict  # fence_key -> [version, epoch, has_moves, attempt]
    lineage: list[dict]
    dead_letter_files: list[dict]
    # Compaction replay floor: compact_tombstones() dropped tombstones with
    # _lsn_del below this, so an event with lsn < lsn_watermark can no longer
    # be applied safely (an upsert below a compacted delete would resurrect
    # the deleted row). merge_batch dead-letters such events. 0 = never
    # compacted (event lsns start at 1). Missing in legacy manifests →
    # dataclass default.
    lsn_watermark: int = 0
    # Erasure horizon: erase_keys() physically purged register history
    # below this version, so time travel / CDF reads below it must refuse
    # (the files are gone BY DESIGN — right-to-be-forgotten, not rot).
    # 0 = never erased. Missing in legacy manifests → dataclass default.
    erase_floor: int = 0
    # Named snapshot refs (Iceberg tag analogue): name -> version. Tagged
    # versions survive expire_snapshots (reproducibility pins: "the
    # corpus we trained run X on"). Missing in legacy manifests → {}.
    tags: dict = field(default_factory=dict)
    # Declared within-bucket sort order (Iceberg sort-order analogue),
    # recorded by optimize_layout(). Advisory metadata: files written by
    # ordinary epoch commits after an optimize are NOT sorted (the sort
    # holds per optimized snapshot, like Iceberg's sorted data files vs
    # later appends). [] = never optimized / legacy manifests.
    sort_order: list = field(default_factory=list)

    @staticmethod
    def empty(n_buckets: int, payload_cols: list[str]) -> "Manifest":
        return Manifest(
            version=0,
            payload_cols=list(payload_cols),
            n_buckets=n_buckets,
            files=[],
            committed={},
            lineage=[],
            dead_letter_files=[],
        )

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        return Manifest(**json.loads(s))


LINEAGE_FIELDS = [
    ("fence_key", "string"),
    ("epoch_id", "long"),
    ("batch_id", "string"),
    ("partition_id", "int"),
    ("events_applied", "long"),
    ("upserts", "long"),
    ("deletes", "long"),
    ("dead_lettered", "long"),
    ("watermark_ts", "string"),
    ("max_lag_seconds", "double"),
]
LINEAGE_DDL = ", ".join(f"{n} {t}" for n, t in LINEAGE_FIELDS)


class LakeTable:
    # Committed-fence retention: fences for epochs older than
    # (current epoch − FENCE_WINDOW) are dropped at commit time. Safe
    # because Structured Streaming's checkpoint only ever re-delivers the
    # last in-flight epoch — epochs behind the offset horizon cannot fire
    # again — so the manifest stays O(n_buckets + window) instead of
    # growing one fence entry per epoch over a 10^10-event replay.
    FENCE_WINDOW = 64

    # An existing target manifest younger than this is treated as an
    # in-flight competing commit (ConcurrentCommitError), not a crash
    # orphan — reclaiming a live writer's file would erase its commit.
    ORPHAN_GRACE_SECONDS = 60.0

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        self.staging_dir = os.path.join(root, "staging")
        # lineage + dead letters are append-only parquet side-tables, NOT
        # manifest JSON: an earlier design re-serialized the full lineage
        # history into every manifest — O(epochs²) metadata bytes over a
        # long replay, the one real scale-killer in the commit path.
        self.lineage_dir = os.path.join(root, "lineage")
        self.dl_dir = os.path.join(root, "deadletter")

    # ---------- lifecycle ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        seed_df: DataFrame | None = None,
        payload_cols: list[str] | None = None,
        n_buckets: int = 16,
    ) -> "LakeTable":
        t = cls(root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        payload_cols = list(payload_cols or PAYLOAD_COLUMNS)
        m = Manifest.empty(n_buckets, payload_cols)
        if seed_df is not None:
            regs = lww.seed_registers(seed_df, payload_cols)
            files = t._write_register_files(regs, n_buckets, tag="seed")
            m.files = files
        m.version = 1
        t._write_manifest(m)
        return t

    @classmethod
    def load(cls, root: str) -> "LakeTable":
        t = cls(root)
        t.manifest()  # raises if missing
        return t

    def manifest(self) -> Manifest:
        with open(os.path.join(self.meta_dir, "HEAD")) as f:
            v = int(f.read().strip())
        with open(os.path.join(self.meta_dir, f"v{v:06d}.json")) as f:
            return Manifest.from_json(f.read())

    def _head_version(self) -> int:
        """Current HEAD version; 0 when HEAD has never been swapped in
        (a crash during create, before the first swap)."""
        try:
            with open(os.path.join(self.meta_dir, "HEAD")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _write_manifest(self, m: Manifest) -> None:
        """Atomic snapshot commit with optimistic concurrency.

        Iceberg-style CAS on the metadata pointer: the new manifest file is
        created with O_EXCL (version-file creation IS the atomic
        compare-and-swap — two writers committing from the same base race
        on the same filename and exactly one wins), then HEAD is swapped.
        A crash between the two steps leaves HEAD on the old version and
        the new file an unreferenced orphan for vacuum() — never a torn
        commit. The loser gets ConcurrentCommitError and must re-read,
        re-resolve, retry (in the engine the streaming driver is the
        single writer, so this only guards against misconfiguration)."""
        path = os.path.join(self.meta_dir, f"v{m.version:06d}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(m.to_json())
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            # Orphan reclaim: a prior crash between this CAS create and the
            # HEAD swap leaves v{n}.json existing while HEAD < n. Under the
            # single-writer model that file is provably an orphan (no other
            # writer can have advanced past HEAD). A missing HEAD means the
            # crash hit before the FIRST swap — same orphan case, head 0.
            # Reclaim is deliberately conservative — age alone is NOT enough
            # (clock skew on network filesystems; a second writer stalled in
            # a GC pause would have its commit silently erased):
            #   - torn/invalid file (fails Manifest.from_json — the crash
            #     hit between the O_EXCL create and the content replace)
            #     AND older than the grace period → reclaim;
            #   - VALID manifest beyond HEAD (crash between content replace
            #     and HEAD swap, or a live competitor mid-commit — the two
            #     are indistinguishable without a lock service) → never
            #     silently overwrite; raise and direct the operator to
            #     vacuum() from the single writer, which sweeps beyond-HEAD
            #     metadata. The commit it discards never landed (HEAD is
            #     the commit point) and its epoch will be re-delivered.
            head = self._head_version()
            age = _time.time() - os.path.getmtime(path)
            try:
                with open(path) as f:
                    Manifest.from_json(f.read())
                torn = False
            except Exception:
                torn = True
            if head >= m.version or not torn or age < self.ORPHAN_GRACE_SECONDS:
                os.remove(tmp)
                # a crashed create leaves no HEAD; plain vacuum() refuses
                # that ambiguous state, so the remedy differs (lake
                # vacuum docstring, "Tolerates a missing HEAD")
                remedy = "vacuum(force_headless=True)" if head == 0 else "vacuum()"
                if head >= m.version:
                    msg = f"snapshot v{m.version} already committed by another writer"
                elif not torn:
                    msg = (
                        f"snapshot v{m.version} exists and parses as a valid "
                        "manifest while HEAD is behind — a crashed writer died "
                        "between its content write and HEAD swap, or a second "
                        "writer is mid-commit. Refusing to overwrite; run "
                        f"{remedy} from the single writer to reclaim it."
                    )
                else:
                    msg = (
                        f"snapshot v{m.version} exists (torn) and is only "
                        f"{age:.1f}s old — possible in-flight writer between "
                        "its CAS create and content write; retry after the "
                        f"grace period or {remedy} from the single writer"
                    )
                raise ConcurrentCommitError(msg) from None
        os.replace(tmp, path)
        head_tmp = os.path.join(self.meta_dir, f"HEAD.tmp-{uuid.uuid4().hex[:8]}")
        with open(head_tmp, "w") as f:
            f.write(str(m.version))
        os.replace(head_tmp, os.path.join(self.meta_dir, "HEAD"))

    # ---------- IO ----------

    # Columns whose per-file min/max are recorded in the manifest's file
    # entries at write time (when present in the schema) — the Iceberg
    # file-statistics analogue. `turn_idx` serves key-range scans (the
    # within-conversation sort key), `_lsn_up` serves CDC catch-ups
    # ("keys last touched at/after lsn X"), `ts` serves event-time range
    # scans. Files written before stats existed simply lack the entry and
    # are never pruned (sound by construction).
    STATS_COLS = ("turn_idx", "_lsn_up", "_lsn_del", "ts")

    @staticmethod
    def _file_stats(path: str, want: tuple[str, ...]) -> dict:
        """Per-file min/max for ``want`` columns, read from the parquet
        FOOTER (metadata only, no data pages). Timestamps normalize to
        epoch microseconds (ints are JSON-manifest-safe). Runs driver-side
        over the files of ONE commit — bounded by touched buckets ×
        files_per_bucket, the same per-commit metadata cost class as the
        manifest write itself; a cluster deployment would fold this into
        the executor-side file write (collecting footer stats with the
        task result) with identical output."""
        import datetime as _dt

        import pyarrow.parquet as _pq

        def _norm(v):
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                epoch = _dt.datetime(1970, 1, 1)
                return int((v - epoch).total_seconds() * 1_000_000)
            if isinstance(v, bool):
                return int(v)
            if isinstance(v, (int, float, str)):
                return v
            return None

        meta = _pq.read_metadata(path)
        mins: dict = {}
        maxs: dict = {}
        want_set = set(want)
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in want_set:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = _norm(st.min), _norm(st.max)
                if mn is None or mx is None:
                    continue
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
        return {c: [mins[c], maxs[c]] for c in mins if c in maxs}

    def _write_register_files(
        self, regs: DataFrame, n_buckets: int, tag: str,
        sort_cols: tuple[str, ...] = (),
        split_ranges: int = 1,
    ) -> list[dict]:
        """Write register rows as one parquet file per touched bucket,
        directly into a unique per-commit directory under data/ — write
        ONCE to the final location, zero renames. The unique dir name is
        the tmp_<uuidv7>_ uniqueness of RenameS3Utils.kt:78 fenced per
        commit; 'commit' is purely the manifest swap referencing these
        paths. This is the object-store pattern (S3 has no rename — an
        earlier version staged then drove one shutil.move per bucket file
        from the driver, a per-file round trip that does not translate to
        the reference's S3 world and serializes on the driver)."""
        commit_id = uuid.uuid4().hex[:12]
        out = os.path.join(self.data_dir, f"{tag}-{commit_id}")
        bucketed = regs.withColumn(BUCKET_COL, bucket_expr(n_buckets))
        if split_ranges > 1 and sort_cols:
            # range-split layout (optimize_layout files_per_bucket > 1):
            # ONE range shuffle on (bucket, sort_cols) so each bucket comes
            # out as ~split_ranges files whose sort-key ranges are DISJOINT
            # — their manifest min/max stats then prune range scans to a
            # fraction of the bucket (file-level skipping, not just
            # row-group skipping). Partition boundaries may straddle
            # buckets; the partitionBy write re-splits by bucket dir, and
            # stats are computed from the files actually written.
            bucketed = bucketed.repartitionByRange(
                split_ranges * n_buckets, F.col(BUCKET_COL),
                *[F.col(c) for c in sort_cols]
            ).sortWithinPartitions(BUCKET_COL, *sort_cols)
        else:
            bucketed = bucketed.repartition(BUCKET_COL)
            if sort_cols:
                # within-task sort (no extra shuffle): each per-bucket
                # output file comes out in key order, so its parquet
                # row-group min/max stats are disjoint key ranges —
                # point/range reads skip row groups instead of scanning
                # the bucket (see optimize_layout)
                bucketed = bucketed.sortWithinPartitions(BUCKET_COL, *sort_cols)
        # write timestamps as TIMESTAMP_MICROS, not Spark's legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, which would
        # silently disable ts-range file skipping (and INT96 is deprecated
        # by the parquet spec). Set/restore around the write — reads are
        # unaffected either way.
        spark = regs.sparkSession
        ts_conf = "spark.sql.parquet.outputTimestampType"
        prev_ts_type = spark.conf.get(ts_conf)
        spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
        try:
            bucketed.write.partitionBy(BUCKET_COL).parquet(out)
        finally:
            spark.conf.set(ts_conf, prev_ts_type)
        files: list[dict] = []
        for entry in sorted(os.listdir(out)):
            mm = re.match(rf"{BUCKET_COL}=(\d+)$", entry)
            if not mm:
                continue
            b = int(mm.group(1))
            bdir = os.path.join(out, entry)
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    p = os.path.join(bdir, fn)
                    files.append(
                        {"path": p, "bucket": b, "rows": -1,
                         "bytes": os.path.getsize(p),
                         "stats": self._file_stats(p, self.STATS_COLS)}
                    )
        self._warn_if_buckets_oversized(files, n_buckets)
        return files

    # Copy-on-write rewrites whole buckets, so per-epoch cost is bounded by
    # bucket size: past this, rewriting one touched bucket dwarfs the change
    # set and the operator should grow the layout (rebucket()) before data
    # grows further. Tunable because the right ceiling depends on executor
    # memory and commit latency targets.
    BUCKET_WARN_BYTES = int(
        os.environ.get("LAKE_BUCKET_WARN_BYTES", str(512 * 1024 * 1024))
    )

    def _warn_if_buckets_oversized(self, files: list[dict], n_buckets: int) -> None:
        worst = max((f.get("bytes", 0) for f in files), default=0)
        if worst > self.BUCKET_WARN_BYTES:
            import warnings

            warnings.warn(
                f"largest bucket data file is {worst / 2**20:.0f} MiB "
                f"(> {self.BUCKET_WARN_BYTES / 2**20:.0f} MiB) at "
                f"n_buckets={n_buckets}: every epoch touching it rewrites "
                "that much — run LakeTable.rebucket() with a larger bucket "
                "count before the table grows further",
                RuntimeWarning,
                stacklevel=3,
            )

    @staticmethod
    def _register_ddl(payload_cols: list[str]) -> str:
        return ", ".join(
            ["conv_id string", "turn_idx int", "_lsn_up long", "_lsn_del long"]
            + [
                x
                for c in payload_cols
                for x in (
                    f"{c} {'timestamp' if c == 'ts' else 'string'}",
                    f"_l_{c} long",
                )
            ]
        )

    @staticmethod
    def _prune_by_stats(
        files: list[dict], prune: dict | None
    ) -> tuple[list[dict], int]:
        """File skipping on manifest min/max stats. ``prune`` maps a
        column name to an inclusive (lo, hi) range (either side may be
        None for open-ended); a file is skipped only when its recorded
        stats PROVE the range cannot match (stats-less files — legacy
        commits, all-null columns — are always read). Rows whose column
        is NULL can never satisfy a range predicate, so min/max over
        non-null values is a sound pruning bound. Returns (kept_files,
        n_skipped)."""
        if not prune:
            return files, 0
        import datetime as _dt

        def _bound(v):
            # timestamp bounds arrive as datetimes; stats store epoch µs
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return int((v - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
            return v

        prune = {c: (_bound(lo), _bound(hi)) for c, (lo, hi) in prune.items()}
        kept: list[dict] = []
        skipped = 0
        for f in files:
            stats = f.get("stats") or {}
            drop = False
            for col, (lo, hi) in prune.items():
                rng = stats.get(col)
                if not rng:
                    continue
                mn, mx = rng
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    drop = True
                    break
            if drop:
                skipped += 1
            else:
                kept.append(f)
        return kept, skipped

    def read_registers(
        self,
        spark: SparkSession,
        buckets: set[int] | None = None,
        prune: dict | None = None,
    ) -> DataFrame:
        # The manifest IS the schema authority (Iceberg-style): read with
        # the explicit schema instead of mergeSchema=true, which footer-
        # scans every data file per read — a per-epoch O(files) metadata
        # pass at scale. Parquet schema-on-read fills columns absent from
        # old snapshots (pre-promotion files) with nulls, which the LWW
        # register algebra already treats as "never assigned".
        return self._read_registers_of(spark, self.manifest(), buckets,
                                       prune=prune)

    def visible(
        self,
        spark: SparkSession,
        cols: list[str] | None = None,
        prune: dict | None = None,
    ) -> DataFrame:
        """Visible table state. ``cols`` prunes the read to a payload
        subset: the parquet scan's ReadSchema then carries only the
        requested columns' registers (+ the two row-visibility lsns) — on
        a wide promoted schema a text-only consumer (dedup, tokenization)
        reads a fraction of the bytes. Row visibility depends only on
        ``_lsn_up``/``_lsn_del``, so pruning never changes WHICH rows are
        visible, only which columns come back.

        ``prune`` maps columns from :data:`STATS_COLS` to inclusive
        (lo, hi) ranges (either bound may be None) and is EXACT, not just
        a hint: the file list is skipped on manifest min/max stats AND the
        same predicate is re-applied row-level, so
        ``visible(prune={"turn_idx": (0, 5)})`` ≡
        ``visible().filter("turn_idx between 0 and 5")`` — the reference's
        prefix-scoped listing (DeleteAllS3ObjectsByPrefix.kt:115-117)
        completed at FILE granularity (SURVEY §4): after an
        ``optimize_layout(sort_cols=..., files_per_bucket=k)`` a range
        scan opens ~1/k of each bucket instead of all of it. Exactness
        argument: each key's register lives in exactly ONE HEAD file
        (merges rewrite whole buckets), a skipped file provably contains
        no row in range, and NULL values fail any range predicate, so
        non-null min/max bounds are sound. Register-internal columns
        (``_lsn_up``: "keys last upserted in this lsn range" — the CDC
        catch-up scan) filter on the register before visibility; output
        columns (``turn_idx``, ``ts``) filter on the visible row."""
        m = self.manifest()
        payload = list(m.payload_cols)
        if cols is not None:
            unknown = set(cols) - set(payload)
            if unknown:
                raise ValueError(
                    f"unknown payload cols {sorted(unknown)}; "
                    f"table has {payload}"
                )
            payload = [c for c in payload if c in set(cols)]
        if prune:
            bad = set(prune) - set(self.STATS_COLS)
            if bad:
                raise ValueError(
                    f"prune columns {sorted(bad)} have no recorded stats; "
                    f"supported: {list(self.STATS_COLS)}"
                )
        reg_level = {"_lsn_up", "_lsn_del"}
        # a row-level prune column left out of ``cols`` is still read for
        # the filter, then dropped before returning
        hidden = [
            c for c in (prune or {})
            if c not in reg_level and c not in lww.KEY and c not in payload
        ]
        regs = self._read_registers_of(
            spark, m, payload_override=payload + hidden, prune=prune
        )
        if prune:
            for c, (lo, hi) in prune.items():
                if c not in reg_level:
                    continue
                if lo is not None:
                    regs = regs.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    regs = regs.filter(F.col(c) <= F.lit(hi))
        vis = lww.visible(regs, payload + hidden)
        if prune:
            for c, (lo, hi) in prune.items():
                if c in reg_level:
                    continue
                if lo is not None:
                    vis = vis.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    vis = vis.filter(F.col(c) <= F.lit(hi))
        return vis.drop(*hidden)

    def lookup(self, spark: SparkSession, conv_id: str) -> DataFrame:
        """Point read: the visible turns of ONE conversation, scanning only
        the bucket its key hashes to — O(bucket), not O(table). At 4096
        buckets over 100 TB that is a ~25 GB read instead of a full scan;
        the serving-layer primitive (the reference's per-item S3 prefix
        GET, DownloadMultipleS3FilesByPrefix.kt, transposed to the bucket
        layout). The bucket is computed with the SAME expression as the
        write path (one 1-row Spark job, so the hash is bit-identical to
        what partitioned the data)."""
        m = self.manifest()
        b = (
            spark.createDataFrame([(conv_id,)], "conv_id string")
            .select(bucket_expr(m.n_buckets).alias("b"))
            .first()[0]
        )
        vis = lww.visible(
            self.read_registers(spark, buckets={b}), m.payload_cols
        )
        return vis.filter(F.col("conv_id") == conv_id)

    # ---------- time travel + change data feed ----------

    def manifest_at(self, version: int) -> Manifest:
        """Historical manifest snapshot (Iceberg/Delta time travel).

        Snapshots remain readable until ``vacuum()`` reclaims the data
        files their file lists reference (vacuum keeps only files
        referenced by HEAD) — the same retention contract as Delta's
        VACUUM vs time travel. Manifests beyond HEAD are crash orphans,
        never readable history."""
        head = self._head_version()
        if not (1 <= version <= head):
            raise ValueError(
                f"version {version} out of range: committed history is "
                f"1..{head} (beyond-HEAD manifests are crash orphans)"
            )
        floor = int(getattr(self.manifest(), "erase_floor", 0) or 0)
        if version < floor:
            raise ValueError(
                f"version {version} is below the erasure horizon v{floor}: "
                "erase_keys() physically purged that history "
                "(right-to-be-forgotten) — snapshots before the erasure "
                "are unreadable by design"
            )
        path = os.path.join(self.meta_dir, f"v{version:06d}.json")
        try:
            with open(path) as f:
                return Manifest.from_json(f.read())
        except FileNotFoundError:
            raise ValueError(
                f"manifest v{version} no longer exists — historical "
                "snapshots are readable only until vacuum()"
            ) from None

    def visible_at(self, spark: SparkSession, version: int) -> DataFrame:
        """Visible table state at a committed snapshot version."""
        m = self.manifest_at(version)
        return lww.visible(self._read_registers_of(spark, m), m.payload_cols)

    def _read_registers_of(
        self,
        spark: SparkSession,
        m: Manifest,
        buckets: set[int] | None = None,
        payload_override: list[str] | None = None,
        prune: dict | None = None,
    ) -> DataFrame:
        cand = [
            f
            for f in m.files
            if buckets is None or f["bucket"] in buckets
        ]
        kept, skipped = self._prune_by_stats(cand, prune)
        # observability for tests/operators: what the last scan actually
        # opened vs what the bucket filter alone would have (the
        # numFilesRead metric a cluster UI would show)
        self.last_scan = {
            "files_candidate": len(cand),
            "files_read": len(kept),
            "files_skipped": skipped,
        }
        paths = [f["path"] for f in kept]
        payload = (
            list(m.payload_cols)
            if payload_override is None
            else list(payload_override)
        )
        ddl = self._register_ddl(payload)
        if not paths:
            return spark.createDataFrame([], schema=ddl)
        df = spark.read.schema(ddl).parquet(*paths)
        return lww._align(df, payload)

    def table_changes(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Net row-level changes between two snapshots — the Delta-CDF /
        Iceberg-incremental-read analogue, so a downstream consumer can
        refresh from version A to B without rescanning the table.

        Emits one row per changed key with Delta CDF's change_type
        vocabulary: ``insert`` / ``delete`` (the single image) and
        ``update_preimage`` + ``update_postimage`` (both images).

        Scale shape: copy-on-write at bucket granularity means a bucket
        whose file list is IDENTICAL in both manifests cannot contain a
        change — only differing buckets are read from either snapshot, so
        the diff cost is proportional to the data actually touched
        between the versions, not table size. (A rebucket() between the
        versions invalidates the bucket correspondence → full read of
        both sides.) The classification is one full-outer join on the key
        within changed buckets plus a narrow explode — no driver-side
        state."""
        m_from = self.manifest_at(v_from)
        m_to = self.manifest_at(v_to)
        cols = list(m_to.payload_cols)

        buckets: set[int] | None = None
        if m_from.n_buckets == m_to.n_buckets:
            by_bucket_from: dict[int, list[str]] = {}
            by_bucket_to: dict[int, list[str]] = {}
            for f in m_from.files:
                by_bucket_from.setdefault(f["bucket"], []).append(f["path"])
            for f in m_to.files:
                by_bucket_to.setdefault(f["bucket"], []).append(f["path"])
            buckets = {
                b
                for b in set(by_bucket_from) | set(by_bucket_to)
                if sorted(by_bucket_from.get(b, []))
                != sorted(by_bucket_to.get(b, []))
            }

        vf = lww.visible(
            lww._align(self._read_registers_of(spark, m_from, buckets), cols),
            cols,
        )
        vt = lww.visible(self._read_registers_of(spark, m_to, buckets), cols)

        of = vf.select(
            *[F.col(k) for k in lww.KEY],
            F.lit(True).alias("_in_old"),
            *[F.col(c).alias(f"_old_{c}") for c in cols],
        )
        nt = vt.select(
            *[F.col(k) for k in lww.KEY],
            F.lit(True).alias("_in_new"),
            *[F.col(c).alias(f"_new_{c}") for c in cols],
        )
        j = of.join(nt, list(lww.KEY), "full_outer")
        img_old = F.struct(*[F.col(f"_old_{c}").alias(c) for c in cols])
        img_new = F.struct(*[F.col(f"_new_{c}").alias(c) for c in cols])
        in_old = F.coalesce(F.col("_in_old"), F.lit(False))
        in_new = F.coalesce(F.col("_in_new"), F.lit(False))
        differs = None
        for c in cols:
            d = ~F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
            differs = d if differs is None else (differs | d)
        entry = lambda t, img: F.struct(  # noqa: E731
            F.lit(t).alias("change_type"), img.alias("img")
        )
        changes = (
            F.when(~in_old & in_new, F.array(entry("insert", img_new)))
            .when(in_old & ~in_new, F.array(entry("delete", img_old)))
            .when(
                in_old & in_new & differs,
                F.array(
                    entry("update_preimage", img_old),
                    entry("update_postimage", img_new),
                ),
            )
            .otherwise(
                F.array().cast(
                    f"array<struct<change_type:string,img:struct<"
                    + ",".join(
                        f"{c}:{vt.schema[c].dataType.simpleString()}"
                        for c in cols
                    )
                    + ">>>"
                )
            )
        )
        ex = j.select(*lww.KEY, F.explode(changes).alias("_ch"))
        return ex.select(
            *lww.KEY,
            F.col("_ch.change_type").alias("change_type"),
            *[F.col(f"_ch.img.{c}").alias(c) for c in cols],
        )

    # ---------- MERGE ----------

    def is_committed(self, fence_key: str) -> bool:
        return fence_key in self.manifest().committed

    def merge_batch(
        self,
        spark: SparkSession,
        events: DataFrame,
        fence_key: str,
        batch_id: str | None = None,
        epoch_id: int = -1,
        hot_key_threshold: int | None = None,
        n_salts: int = 8,
        commit_retries: int = 2,
    ) -> bool:
        """Apply one declarative change batch as an atomic, fenced commit.

        Returns False (structural no-op) if the fence key was already
        committed — the exactly-once re-delivery path.

        ``hot_key_threshold``: when set, a cheap per-key count (map-side
        combinable, skew-safe) probes the batch; if any (conv_id, turn_idx)
        key exceeds the threshold the register aggregation runs the salted
        two-phase path (lww.salted_batch_registers) so a hot conversation
        cannot pin an epoch to one shuffle partition.

        Optimistic concurrency: on ConcurrentCommitError (another writer won
        the manifest CAS) the whole merge re-reads HEAD, re-resolves against
        the new snapshot and retries, up to ``commit_retries`` times — the
        Iceberg retry loop. The failed attempt's data files and side-table
        rows are unreferenced orphans (side rows are deleted eagerly, data
        files by vacuum()). The engine's production deployment is still
        single-writer (the streaming driver); the retry guards the
        misconfigured-second-writer case without silent lossage.
        """
        for attempt_no in range(commit_retries + 1):
            head_before = self._head_version()
            try:
                return self._merge_batch_once(
                    spark, events, fence_key, batch_id, epoch_id,
                    hot_key_threshold, n_salts,
                )
            except ConcurrentCommitError:
                # Retrying is only useful if another writer actually
                # advanced HEAD (the retry re-resolves against the new
                # snapshot). If HEAD is unchanged the retry re-derives the
                # identical version and fails the same way — but a LIVE
                # race loser can observe the collision between the
                # winner's CAS create and its HEAD swap, so poll HEAD
                # briefly (bounded backoff) before giving up: if the
                # winner's swap lands, retry the merge; if HEAD still
                # hasn't moved (torn orphan inside its grace period, valid
                # beyond-HEAD manifest), surface the error — its message
                # names the remedy — instead of re-running a merge that
                # would deterministically fail identically.
                if attempt_no == commit_retries:
                    raise
                moved, delay = False, 0.1
                for _ in range(4):
                    if self._head_version() != head_before:
                        moved = True
                        break
                    _time.sleep(delay)
                    delay *= 2
                if not moved and self._head_version() == head_before:
                    raise
        return False  # unreachable

    def _merge_batch_once(
        self,
        spark: SparkSession,
        events: DataFrame,
        fence_key: str,
        batch_id: str | None,
        epoch_id: int,
        hot_key_threshold: int | None,
        n_salts: int,
    ) -> bool:
        m = self.manifest()
        if fence_key in m.committed:
            return False
        n_buckets = m.n_buckets
        attempt = uuid.uuid4().hex[:12]
        lsn_wm = int(getattr(m, "lsn_watermark", 0) or 0)

        # ONE aggregate over the raw batch answers what the resolve plan
        # needs to know up front: the schema version to promote to, and the
        # buckets that can hold a valid move's source (empty = move-free).
        # reject_reason reads no payload column, so the valid moves are
        # known before promotion.
        valid_move = (
            (F.col("op") == "move")
            & resolve.reject_reason().isNull()
            & (F.col("lsn") >= lsn_wm)
        )
        probe = events.agg(
            F.max("schema_version"),
            F.collect_set(F.when(valid_move, bucket_expr(n_buckets, "src_conv_id"))),
        ).first()
        src_buckets = set(probe[1])
        has_moves = bool(src_buckets)

        # additive schema evolution: promote columns demanded by the batch
        payload_cols = list(m.payload_cols)
        for c in promoted_columns(int(probe[0] or 1)):
            if c not in payload_cols:
                payload_cols.append(c)

        # move sources resolve against the pre-batch visible state, pruned
        # to the buckets that can contain them (CDC "read table to resolve")
        pre_visible = (
            lww.visible(self.read_registers(spark, buckets=src_buckets), payload_cols)
            if has_moves
            else None
        )
        normalized, dead = resolve_batch(events, payload_cols, pre_visible, lsn_wm)
        normalized = normalized.persist()

        salted = False
        if hot_key_threshold is not None:
            row = (
                normalized.groupBy(*lww.KEY)
                .count()
                .agg(F.max("count"))
                .first()
            )
            salted = bool(row and row[0] and row[0] > hot_key_threshold)
        if salted:
            bregs = lww.salted_batch_registers(normalized, payload_cols, n_salts=n_salts)
        else:
            bregs = lww.batch_registers(normalized, payload_cols)
        # ONE aggregate over the persisted normalized batch: lineage per
        # partition, and the touched buckets (bregs is keyed on exactly the
        # keys of normalized, so its buckets are the batch's buckets)
        lin_rows = _batch_lineage(normalized, n_buckets).collect()
        touched = {b for r in lin_rows for b in r["buckets"]}
        state = self.read_registers(spark, buckets=touched)
        # Full-outer joins cannot broadcast a side; the join is still
        # bucket-pruned (touched buckets only) and AQE right-sizes it.
        combined = lww.combine_registers(state, bregs, payload_cols)

        new_files = self._write_register_files(
            combined, n_buckets, tag=f"e{epoch_id}"
        )
        # lineage metrics (the ReorderFiles result summary, grown to a table);
        # watermark = epoch max event-time, lag = watermark − partition min
        # event-time — event-time based so replay reproduces metrics exactly
        wm = max(
            (r["max_ts"] for r in lin_rows if r["max_ts"] is not None),
            default=None,
        )
        lin = [
            {
                "fence_key": fence_key,
                "epoch_id": epoch_id,
                "batch_id": batch_id,
                "partition_id": int(r["partition_id"]),
                "events_applied": int(r["events_applied"]),
                "upserts": int(r["upserts"]),
                "deletes": int(r["deletes"]),
                "watermark_ts": wm.isoformat() if wm is not None else None,
                "max_lag_seconds": (
                    (wm - r["min_ts"]).total_seconds()
                    if wm is not None and r["min_ts"] is not None
                    else None
                ),
            }
            for r in lin_rows
        ]
        dead = dead.persist()  # one derivation feeds both the count and the write
        dl_count = dead.count()
        dl_path = os.path.join(self.dl_dir, f"att-{attempt}")
        if dl_count:
            # per-attempt subdir in the append-only side-table: rows are
            # deterministic per fence (dedupe on (fence_key, lsn, detail) covers
            # crash-retry duplicates) and the subdir makes a failed
            # commit's rows deletable without touching other attempts
            (
                dead.withColumn("fence_key", F.lit(fence_key))
                .withColumn("attempt", F.lit(attempt))
                # record the commit's epoch directly: the read path's
                # phantom filter needs it, and parsing it back out of the
                # fence string would silently disagree with the committed
                # map if the fence format ever changed
                .withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))
                .coalesce(1)
                .write.parquet(dl_path)
            )
        dead.unpersist()
        lin.append(
            {
                "fence_key": fence_key,
                "epoch_id": epoch_id,
                "batch_id": batch_id,
                "partition_id": -1,
                "events_applied": 0,
                "upserts": 0,
                "deletes": 0,
                "dead_lettered": dl_count,
            }
        )
        lin_path = self._append_lineage(lin, attempt)

        # fence map: record this commit (with a had-moves marker), then
        # drop MOVE-FREE fences behind the replay horizon. Move-free
        # re-application is idempotent by the register algebra (equal lsn,
        # equal value), so losing those fences is harmless even if an
        # operator replays with a fresh checkpoint; a re-applied MOVE
        # batch would re-resolve against post-hoc state and corrupt
        # registers, so move fences are kept forever — bounded by the
        # move-batch rate, not the epoch count. Legacy entries (no marker)
        # are never pruned.
        committed = dict(m.committed)
        committed[fence_key] = [m.version + 1, int(epoch_id), int(has_moves), attempt]
        if epoch_id >= 0:
            horizon = int(epoch_id) - self.FENCE_WINDOW
            committed = {
                k: v
                for k, v in committed.items()
                if not (
                    isinstance(v, list)
                    and len(v) >= 3
                    and not v[2]
                    and v[1] >= 0
                    and v[1] < horizon
                )
            }

        kept = [f for f in m.files if f["bucket"] not in touched]
        # dataclasses.replace: unlisted Manifest fields (tags, erase_floor,
        # any future addition) carry over instead of silently resetting to
        # defaults — the hand-listed form was a schema-drift hazard
        new_manifest = _dc_replace(
            m,
            version=m.version + 1,
            payload_cols=payload_cols,
            files=kept + new_files,
            committed=committed,
            lsn_watermark=lsn_wm,
            # this commit's files are NOT sorted: the declared order held
            # for the optimized snapshot only (Iceberg sorted-files vs
            # later appends) — reset it deliberately
            sort_order=[],
        )
        try:
            self._write_manifest(new_manifest)
        except ConcurrentCommitError:
            # the commit never landed: eagerly remove this attempt's
            # side-table rows so lineage_df()/dead_letters() cannot report
            # a phantom commit (data files become vacuum()-able orphans)
            try:
                os.remove(lin_path)
            except OSError:
                pass
            shutil.rmtree(dl_path, ignore_errors=True)
            raise
        finally:
            normalized.unpersist()
        return True

    # ---------- maintenance / introspection ----------

    def _append_lineage(self, rows: list[dict], attempt: str) -> str:
        """Write one tiny parquet file of lineage rows (driver-side
        pyarrow — no Spark job for a handful of metric rows). Append-only:
        manifest bytes stay O(1) in epoch count. Each write stamps the
        commit's ``attempt`` id (also recorded in the manifest's committed
        map): a crash-retry produces a second file for the same fence whose
        per-partition row boundaries may differ (partition ids are not
        stable across retries), so the read path keeps exactly the attempt
        the manifest committed rather than deduping row-by-row. Returns the
        written path so a failed commit can delete its own rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "string": pa.string(),
            "long": pa.int64(),
            "int": pa.int32(),
            "double": pa.float64(),
        }
        os.makedirs(self.lineage_dir, exist_ok=True)
        fields = LINEAGE_FIELDS + [("attempt", "string")]
        schema = pa.schema([(n, _PA[t]) for n, t in fields])
        norm = [
            {**{n: r.get(n) for n, _ in LINEAGE_FIELDS}, "attempt": attempt}
            for r in rows
        ]
        # write to a tmp name + atomic rename: a crash mid-write must not
        # leave a footer-less parquet file that breaks every later
        # lineage_df() read (nothing sweeps lineage_dir)
        final = os.path.join(self.lineage_dir, f"lin-{attempt}.parquet")
        tmp = final + ".tmp"
        pq.write_table(pa.Table.from_pylist(norm, schema=schema), tmp)
        os.replace(tmp, final)
        return final

    @staticmethod
    def _committed_attempts(m: Manifest) -> dict[str, str | None]:
        """fence key → attempt id that actually committed (None for
        pre-attempt legacy entries). The SINGLE definition of how the
        committed-map value layout is decoded — both the read-path phantom
        filter and vacuum's side-file sweep derive from it, so the two can
        never disagree about which attempts the manifest vouches for."""
        return {
            k: (
                v[3]
                if isinstance(v, list) and len(v) >= 4 and isinstance(v[3], str)
                else None
            )
            for k, v in m.committed.items()
        }

    def _fence_horizon(self, m: Manifest) -> int | None:
        """Epoch below which move-free fences may have been pruned from the
        window (their side rows are assumed committed). Shared by the read
        paths and vacuum's sweep for the same no-drift reason as
        _committed_attempts."""
        epochs = [
            int(v[1])
            for v in m.committed.values()
            if isinstance(v, list) and len(v) >= 2 and int(v[1]) >= 0
        ]
        return (max(epochs) - self.FENCE_WINDOW) if epochs else None

    def _fence_validity(self, spark: SparkSession, m: Manifest):
        """Phantom-commit filter inputs for the side-table read paths.

        Returns (fences_df | None, horizon): ``fences_df`` maps each fence
        key in the manifest's committed map to the attempt id that actually
        committed (null for pre-attempt legacy entries); ``horizon`` is the
        epoch below which move-free fences may have been pruned from the
        window — side rows for fences behind it are assumed committed
        (their fence entry aged out), rows for unknown fences at or above
        it are phantoms from commits that never landed (crash + re-derived
        fences) and are dropped. New-style rows are attempt-stamped; rows
        with a null attempt predate stamping and are kept as before."""
        entries = list(self._committed_attempts(m).items())
        fences = (
            spark.createDataFrame(
                entries, "fence_key string, _m_att string"
            ).withColumn("_in_m", F.lit(True))
            if entries
            else None
        )
        return fences, self._fence_horizon(m)

    @staticmethod
    def _keep_side_rows(df: DataFrame, fences, horizon, epoch_col: F.Column):
        """Apply the phantom filter: committed fences keep the committed
        attempt (legacy entries/rows keep everything for that fence);
        unknown fences keep only pre-attempt legacy rows or rows behind the
        pruning horizon."""
        if fences is not None:
            df = df.join(F.broadcast(fences), "fence_key", "left")
        else:
            df = df.withColumn("_m_att", F.lit(None).cast("string")).withColumn(
                "_in_m", F.lit(None).cast("boolean")
            )
        att = F.col("attempt")
        in_m = F.coalesce(F.col("_in_m"), F.lit(False))
        matched = in_m & (
            F.col("_m_att").isNull() | att.isNull() | (att == F.col("_m_att"))
        )
        behind = (
            F.lit(False)
            if horizon is None
            else (epoch_col >= 0) & (epoch_col < F.lit(horizon))
        )
        keep = matched | (~in_m & (att.isNull() | behind))
        return df.filter(keep).drop("_m_att", "_in_m")

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        m = self.manifest()
        # legacy manifests carried lineage inline; new commits append to
        # the parquet side-table — read both
        rows = [
            (
                r.get("fence_key"),
                int(r.get("epoch_id", -1)),
                r.get("batch_id"),
                int(r.get("partition_id", -1)),
                int(r.get("events_applied", 0)),
                int(r.get("upserts", 0)),
                int(r.get("deletes", 0)),
                int(r.get("dead_lettered", 0)),
                r.get("watermark_ts"),
                r.get("max_lag_seconds"),
            )
            for r in m.lineage
        ]
        legacy = spark.createDataFrame(rows, schema=LINEAGE_DDL)
        if os.path.isdir(self.lineage_dir) and any(
            f.endswith(".parquet") for f in os.listdir(self.lineage_dir)
        ):
            from pyspark.sql import Window

            side = spark.read.schema(LINEAGE_DDL + ", attempt string").parquet(
                self.lineage_dir
            )
            # phantom filter: a crash after the side-table append but before
            # the manifest swap (followed by an epoch that re-derives
            # different fences) leaves rows for a fence that never
            # committed — drop anything the manifest doesn't vouch for
            fences, horizon = self._fence_validity(spark, m)
            side = self._keep_side_rows(side, fences, horizon, F.col("epoch_id"))
            # keep exactly ONE attempt per fence: partition ids are not
            # stable across crash-retries, so row-level dedupe could mix
            # rows of different attempts and double-count (the manifest
            # usually pins one attempt already; min covers legacy rows)
            w = Window.partitionBy("fence_key")
            side = (
                side.withColumn("_att", F.coalesce(F.col("attempt"), F.lit("")))
                .withColumn("_keep", F.min("_att").over(w))
                .filter(F.col("_att") == F.col("_keep"))
                .select(*[n for n, _ in LINEAGE_FIELDS])
            )
            return legacy.unionByName(side)
        return legacy

    def dead_letters(self, spark: SparkSession) -> DataFrame:
        m = self.manifest()
        schema = (
            "lsn long, batch_id string, op string, reason string, "
            "detail string, fence_key string"
        )
        out = None
        paths = [f["path"] for f in m.dead_letter_files]
        if paths:  # legacy manifest-listed files (no fence_key column)
            out = (
                spark.read.parquet(*paths)
                .withColumn("detail", F.lit(None).cast("string"))
                .withColumn("fence_key", F.lit(None).cast("string"))
            )
        if os.path.isdir(self.dl_dir) and os.listdir(self.dl_dir):
            # recursiveFileLookup: new-style rows live in per-attempt
            # subdirs (deletable on a failed commit), legacy rows are flat
            # files; the explicit schema null-fills the legacy attempt
            side = (
                spark.read.schema(schema + ", attempt string, epoch_id long")
                .option("recursiveFileLookup", "true")
                .parquet(self.dl_dir)
            )
            fences, horizon = self._fence_validity(spark, m)
            # prefer the recorded epoch (authoritative — stamped from the
            # same value the committed map records); fall back to parsing
            # the fence string for rows written before it was stamped
            parsed = F.regexp_extract(
                F.col("fence_key"), r".*/e(-?\d+)/", 1
            ).cast("long")
            side = self._keep_side_rows(
                side, fences, horizon,
                F.coalesce(F.col("epoch_id"), parsed, F.lit(-1)),
            )
            side = side.dropDuplicates(["fence_key", "lsn", "detail"]).select(
                "lsn", "batch_id", "op", "reason", "detail", "fence_key"
            )
            out = side if out is None else out.unionByName(side)
        if out is None:
            return spark.createDataFrame([], schema=schema)
        return out

    def vacuum(self, force_headless: bool = False) -> int:
        """Delete files not referenced by HEAD (orphans from crashed
        commits) and leftover staging dirs — the deleteOcrWorkFiles
        analogue (ReorderFiles.kt:276-298).

        MUST only run from the single writer (like the commit path). The
        data-file sweep works from one manifest snapshot and CANNOT be
        made safe against a racing commit (a commit landing mid-walk would
        have its files deleted as unreferenced) — the single-writer
        contract is the guarantee, not the HEAD re-read. The re-read
        before the metadata sweep only narrows the window in which a
        just-created manifest could be mistaken for an orphan.

        Tolerates a missing HEAD: a crash during ``create`` between the
        v1 manifest write and the first HEAD swap leaves a valid-looking
        beyond-HEAD manifest that _write_manifest refuses to overwrite and
        directs here — vacuum() must therefore work on a table whose HEAD
        was never swapped in (everything beyond version 0 is an orphan)."""
        try:
            m = self.manifest()
        except (FileNotFoundError, ValueError, KeyError, TypeError):
            # manifest() can fail two ways and only one is ever sweepable:
            #   - HEAD exists but the manifest it references is missing,
            #     truncated, or unparseable (ValueError covers torn HEAD
            #     ints and JSONDecodeError; KeyError/TypeError cover
            #     field-level corruption): commit history is PROVEN (HEAD
            #     is only ever written by a successful swap) — refuse, the
            #     remedy is restoring the manifest/HEAD, never deletion;
            #   - HEAD itself is missing: safely interpretable as "no
            #     commit ever landed" only for an embryonic table. A crash
            #     during create leaves AT MOST v000001.json; any higher
            #     version means commits landed and HEAD was LOST (partial
            #     restore, fs corruption) — refuse. And a VALID v1 with no
            #     HEAD is inherently ambiguous (crashed create vs completed
            #     create whose HEAD was lost), so sweeping it requires the
            #     explicit ``force_headless`` confirmation.
            if os.path.exists(os.path.join(self.meta_dir, "HEAD")):
                try:
                    head_desc = f"points at v{self._head_version()}"
                except ValueError:
                    head_desc = "exists but is unreadable"
                raise RuntimeError(
                    f"metadata/HEAD {head_desc} but a valid committed "
                    "manifest could not be loaded — refusing to vacuum a "
                    "table with proven commit history. Restore the "
                    "manifest file (or point HEAD at the highest valid "
                    "version) instead."
                ) from None
            versions = [
                int(mm.group(1))
                for fn in (
                    os.listdir(self.meta_dir)
                    if os.path.isdir(self.meta_dir)
                    else []
                )
                if (mm := re.match(r"v(\d+)\.json$", fn))
            ]
            if versions and max(versions) > 1:
                raise RuntimeError(
                    "metadata/HEAD is missing but manifests up to "
                    f"v{max(versions)} exist — HEAD was lost on a table "
                    "with commit history. Refusing to vacuum (it would "
                    "delete committed data). Restore HEAD to the highest "
                    "valid manifest version instead."
                ) from None
            if versions and not force_headless:
                v1 = os.path.join(self.meta_dir, f"v{versions[0]:06d}.json")
                try:
                    with open(v1) as f:
                        Manifest.from_json(f.read())
                    valid = True
                except Exception:
                    valid = False
                if valid:
                    raise RuntimeError(
                        "metadata/HEAD is missing and v000001.json parses "
                        "as a valid manifest — a crashed create and a "
                        "completed create whose HEAD was lost are "
                        "indistinguishable on disk. If this is a crashed "
                        "create, re-run vacuum(force_headless=True); "
                        "otherwise restore HEAD to 1."
                    ) from None
            m = None
        referenced = set() if m is None else {f["path"] for f in m.files}
        for d in ([] if m is None else m.dead_letter_files):
            referenced.add(d["path"])
            # legacy dead-letter entries reference whole directories
            if os.path.isdir(d["path"]):
                for fn in os.listdir(d["path"]):
                    referenced.add(os.path.join(d["path"], fn))
        removed = 0
        # file-level sweep: a commit directory may be PARTIALLY live (a
        # later commit rewrote some of its buckets), so reclaim individual
        # unreferenced data files, then prune directories with no live
        # file beneath them — otherwise one live bucket would pin every
        # superseded sibling file forever and disk would grow without
        # bound over a long replay
        for dirpath, _dirnames, filenames in os.walk(self.data_dir, topdown=False):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if fn.endswith(".parquet") and p not in referenced:
                    os.remove(p)
                    removed += 1
            if dirpath == self.data_dir or dirpath in referenced:
                continue
            if not any(r.startswith(dirpath + os.sep) for r in referenced):
                shutil.rmtree(dirpath, ignore_errors=True)
                removed += 1
        # crashed-commit recovery: manifest files beyond HEAD (a writer
        # died between the CAS create and the HEAD swap) and leftover
        # tmp files are orphans. Re-read HEAD right before the sweep so a
        # commit that landed since manifest() was snapshotted above is
        # never treated as an orphan.
        head = self._head_version()
        for fn in os.listdir(self.meta_dir):
            p = os.path.join(self.meta_dir, fn)
            mm = re.match(r"v(\d+)\.json$", fn)
            if ".tmp-" in fn or (mm and int(mm.group(1)) > head):
                os.remove(p)
                removed += 1
        if m is not None:
            removed += self._sweep_phantom_side_files(m)
        shutil.rmtree(self.staging_dir, ignore_errors=True)
        return removed

    def _sweep_phantom_side_files(self, m: Manifest) -> int:
        """Reclaim lineage/dead-letter files of attempts that never
        committed after a HARD crash — kill -9 between the side-table
        append and the manifest swap, so the eager ConcurrentCommitError
        cleanup in _merge_batch_once never ran. The read paths already
        filter these rows out (_keep_side_rows); without this sweep the
        dead files accumulate forever (O(crashes) disk + scan cost, the
        growth class the module docstring bans). Driver-side pyarrow over
        tiny per-attempt files; the keep rule mirrors _keep_side_rows
        exactly: committed fences keep their committed attempt (legacy
        null-attempt entries keep all), unknown fences keep pre-attempt
        legacy rows or rows behind the fence-window pruning horizon."""
        import pyarrow.parquet as pq

        valid = self._committed_attempts(m)
        horizon = self._fence_horizon(m)

        def keep_row(fence, epoch, att) -> bool:
            if fence in valid:
                m_att = valid[fence]
                return m_att is None or att is None or att == m_att
            if att is None:
                return True  # pre-attempt legacy rows: provenance unknown
            return (
                horizon is not None
                and epoch is not None
                and 0 <= epoch < horizon
            )

        removed = 0
        if os.path.isdir(self.lineage_dir):
            for fn in os.listdir(self.lineage_dir):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(self.lineage_dir, fn)
                try:
                    rows = pq.read_table(
                        p, columns=["fence_key", "epoch_id", "attempt"]
                    ).to_pylist()
                except Exception:
                    continue  # unreadable → leave for manual inspection
                if rows and not any(
                    keep_row(r.get("fence_key"), r.get("epoch_id"), r.get("attempt"))
                    for r in rows
                ):
                    os.remove(p)
                    removed += 1
        if os.path.isdir(self.dl_dir):
            for fn in os.listdir(self.dl_dir):
                d = os.path.join(self.dl_dir, fn)
                if not (fn.startswith("att-") and os.path.isdir(d)):
                    continue
                rows, ok = [], True
                for part in os.listdir(d):
                    if not part.endswith(".parquet"):
                        continue
                    try:
                        t = pq.read_table(os.path.join(d, part))
                    except Exception:
                        ok = False
                        break
                    cols = set(t.column_names)
                    for r in t.select(
                        [c for c in ("fence_key", "epoch_id", "attempt") if c in cols]
                    ).to_pylist():
                        fence, epoch = r.get("fence_key"), r.get("epoch_id")
                        if epoch is None and fence:
                            # LAST /e<n>/ segment, matching the read path's
                            # greedy regexp_extract('.*/e(-?\d+)/') — a
                            # run_id that itself contains /e<n>/ must parse
                            # the same here and in dead_letters()
                            ms = re.findall(r"/e(-?\d+)(?=/)", fence)
                            epoch = int(ms[-1]) if ms else None
                        rows.append((fence, epoch, r.get("attempt")))
                if ok and rows and not any(keep_row(*r) for r in rows):
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
        return removed

    def compact_tombstones(self, spark: SparkSession, lsn_watermark: int) -> None:
        """Rewrite all buckets dropping tombstones below the watermark —
        bounds register state over unbounded replays.

        The watermark is recorded in the manifest: from this commit on,
        merge_batch dead-letters any event with lsn below it, because the
        safe-replay argument (re-applying an old upsert is idempotent)
        relies on the tombstones that just got dropped. Fenced epochs are
        unaffected — they no-op before reaching the filter."""
        m = self.manifest()
        regs = lww.compact(
            self.read_registers(spark), m.payload_cols, lsn_watermark
        )
        files = self._write_register_files(regs, m.n_buckets, tag="compact")
        new_manifest = _dc_replace(
            m,
            version=m.version + 1,
            files=files,
            lsn_watermark=max(int(getattr(m, "lsn_watermark", 0) or 0), lsn_watermark),
            sort_order=[],  # compaction rewrite is unsorted
        )
        self._write_manifest(new_manifest)

    def optimize_layout(
        self, spark: SparkSession,
        sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        files_per_bucket: int = 1,
    ) -> None:
        """Rewrite every bucket with rows sorted by ``sort_cols``, one
        snapshot commit, no logical change — the Iceberg sort-order /
        OPTIMIZE analogue for the maintenance window.

        Why at 100 TB: after thousands of epoch commits each bucket is a
        pile of per-epoch files in arrival order, so (a) a point/range
        read inside a bucket scans everything (row-group min/max stats
        span the whole key range), and (b) the file count grows without
        bound. The rewrite collapses each bucket to key-sorted files whose
        row-group stats are disjoint key ranges — parquet readers skip
        row groups on conv_id predicates — and adjacent-key runs compress
        better (RLE/dict pages see clustered values). One shuffle on the
        bucket id + a within-task sort; cost is one full-table rewrite,
        amortized across every read until the next optimize.

        State is bit-identical (the driver-checked ``cdc_maintenance_cycle``
        row runs this between compaction and the final read); fences,
        lineage, dead letters, tags, watermarks all carry over, so
        exactly-once re-delivery is unaffected. The declared order is
        recorded as ``manifest().sort_order`` for the optimized snapshot;
        later epoch commits append unsorted files again (and reset the
        declaration), exactly like Iceberg sorted files vs later appends.
        Single-writer operation like vacuum/rebucket/compact.

        ``files_per_bucket > 1`` additionally RANGE-SPLITS each bucket
        into that many files along ``sort_cols`` (one range shuffle) so
        each file's manifest min/max stats cover a disjoint slice of the
        sort key — the data-skipping layout: a ``visible(prune=...)``
        range scan then opens ~1/files_per_bucket of every bucket instead
        of the whole bucket (Iceberg sort + split-by-size, at the
        granularity this lake tracks). Size it so each file lands near
        the parquet row-group sweet spot (~128-512 MB at scale)."""
        if not sort_cols:
            raise ValueError("sort_cols must name at least one column")
        if files_per_bucket < 1:
            raise ValueError(
                f"files_per_bucket must be >= 1, got {files_per_bucket}"
            )
        m = self.manifest()
        key_cols = {"conv_id", "turn_idx"}
        unknown = set(sort_cols) - key_cols - set(m.payload_cols)
        if unknown:
            raise ValueError(
                f"unknown sort columns {sorted(unknown)}; "
                f"table has keys {sorted(key_cols)} + payload {m.payload_cols}"
            )
        regs = self.read_registers(spark)
        files = self._write_register_files(
            regs, m.n_buckets, tag="optimize", sort_cols=tuple(sort_cols),
            split_ranges=files_per_bucket,
        )
        self._write_manifest(
            _dc_replace(
                m,
                version=m.version + 1,
                files=files,
                sort_order=list(sort_cols),
            )
        )

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Drop historical manifests beyond the newest ``keep_last``
        versions — the Iceberg expireSnapshots analogue that bounds
        metadata growth over a 10^10-event replay (one manifest per epoch
        commit; a year of minutely epochs is ~500k files without expiry).

        Metadata-only and loud: expired versions' ``manifest_at`` raises
        the existing "no longer exists" error; their data files become
        unreferenced-by-any-remaining-manifest and are reclaimed by the
        next ``vacuum()`` (which already keeps only HEAD-referenced
        files). Single-writer operation like vacuum/rebucket. HEAD and
        the fence map are untouched — exactly-once re-delivery does not
        depend on expired history. Tagged versions (``tag()``) are pinned
        and never expired. Returns the number of manifests removed."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        m = self.manifest()
        head = m.version
        pinned = set((getattr(m, "tags", {}) or {}).values())
        cutoff = head - keep_last + 1
        removed = 0
        for v in range(1, cutoff):
            if v in pinned:
                continue
            path = os.path.join(self.meta_dir, f"v{v:06d}.json")
            try:
                os.remove(path)
                removed += 1
            except FileNotFoundError:
                pass
        return removed

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a named ref to a snapshot version (Iceberg tag analogue) —
        the reproducibility anchor a training pipeline needs ("the exact
        corpus run X trained on"). Tags survive ``expire_snapshots``;
        ``erase_keys`` drops tags below its floor (that history is gone
        by right-to-be-forgotten, and a pin must not promise otherwise).
        Recorded through the same CAS manifest commit as data changes.
        Returns the pinned version."""
        m = self.manifest()
        v = m.version if version is None else int(version)
        if not (1 <= v <= m.version):
            raise ValueError(
                f"cannot tag version {v}: committed history is 1..{m.version}"
            )
        floor = int(getattr(m, "erase_floor", 0) or 0)
        if v < floor:
            raise ValueError(
                f"cannot tag version {v}: below the erasure horizon v{floor}"
            )
        tags = dict(getattr(m, "tags", {}) or {})
        tags[name] = v
        new_manifest = _dc_replace(m, version=m.version + 1, tags=tags)
        self._write_manifest(new_manifest)
        return v

    def visible_at_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Visible state at a named tag."""
        tags = dict(getattr(self.manifest(), "tags", {}) or {})
        if name not in tags:
            raise ValueError(f"unknown tag {name!r}; have {sorted(tags)}")
        return self.visible_at(spark, tags[name])

    def erase_keys(self, spark: SparkSession, conv_ids: list[str]) -> dict:
        """Physically erase conversations from the table AND its history —
        the right-to-be-forgotten operation a delete event cannot perform
        (a delete is a tombstone: the text stays in old snapshots, readable
        via time travel, until vacuum happens to reclaim them; erasure is a
        guarantee, not a side effect of retention).

        Reference analogue: DeleteAllS3ObjectsByPrefix.kt removes every
        object under a prefix — the bundle's "remove this item everywhere"
        operation — lifted to snapshot-versioned tables where "everywhere"
        includes history.

        What happens, in one commit + one purge pass:
          1. bucket-pruned rewrite: only the buckets that can contain the
             keys (same hash as the write path) are read, filtered, and
             rewritten — cost ∝ affected buckets, never table size;
          2. the new manifest records ``erase_floor = new version``: time
             travel / CDF below the floor refuses loudly (manifest_at);
          3. every register file referenced only by pre-floor manifests in
             the affected buckets is physically deleted (unaffected
             buckets' history stays time-travelable);
          4. dead-letter ``detail`` payloads mentioning an erased key are
             redacted in place (driver-side pyarrow, side-table scale) —
             the audit row survives, the text does not.

        Erasure is an operator action on the single writer (like vacuum/
        rebucket), not a stream event: replaying pre-erasure binlog
        offsets re-introduces the data, so pair it with stream retention —
        the same contract as any physical purge (Delta VACUUM + CDF).

        ``conv_ids`` is a driver-side list: erasure requests are
        per-data-subject (a handful of keys, not a data-sized set);
        batch large request sets.
        """
        ids = sorted({c for c in conv_ids if c})
        if not ids:
            raise ValueError("erase_keys needs at least one conv_id")
        m = self.manifest()
        n_buckets = m.n_buckets
        key_df = spark.createDataFrame([(c,) for c in ids], "conv_id string")
        affected = {
            r[0]
            for r in key_df.select(bucket_expr(n_buckets).alias("b"))
            .distinct()
            .collect()
        }
        regs = self._read_registers_of(spark, m, affected).persist()
        rows_erased = regs.filter(F.col("conv_id").isin(ids)).count()
        kept_regs = regs.filter(~F.col("conv_id").isin(ids))
        new_files = self._write_register_files(
            kept_regs, n_buckets, tag="erase"
        )
        regs.unpersist()
        kept = [f for f in m.files if f["bucket"] not in affected]
        new_manifest = _dc_replace(
            m,
            version=m.version + 1,
            files=kept + new_files,
            sort_order=[],  # affected buckets rewritten unsorted
            erase_floor=m.version + 1,
            tags={
                k: v
                for k, v in (getattr(m, "tags", {}) or {}).items()
                if v > m.version  # pre-erasure pins are purged history
            },
        )
        self._write_manifest(new_manifest)

        # physical history purge: a register file referenced by any
        # pre-floor manifest in an affected bucket may hold the erased
        # rows; everything the new HEAD still references survives (those
        # are exactly the unaffected-bucket files it inherited)
        live = {f["path"] for f in new_manifest.files}
        purged = 0
        for v in range(1, new_manifest.version):
            path = os.path.join(self.meta_dir, f"v{v:06d}.json")
            try:
                with open(path) as fh:
                    old = Manifest.from_json(fh.read())
            except (FileNotFoundError, ValueError, KeyError, TypeError):
                continue  # already vacuumed / legacy gap
            for f in old.files:
                if f["bucket"] in affected and f["path"] not in live:
                    try:
                        os.remove(f["path"])
                        purged += 1
                    except FileNotFoundError:
                        pass
        redacted = self._redact_dead_letters(ids)
        return {
            "version": new_manifest.version,
            "rows_erased": rows_erased,
            "buckets_rewritten": len(affected),
            "history_files_purged": purged,
            "dead_letter_details_redacted": redacted,
        }

    def _redact_dead_letters(self, ids: list[str]) -> int:
        """NULL out dead-letter ``detail`` payloads (raw wire lines) that
        mention an erased key. Driver-side pyarrow like _append_lineage —
        the dead-letter side table is malformed-event-sized, never
        data-sized. Redaction keeps the audit row; note distinct corrupt
        lines for one fence collapse after redaction (the read path
        dedupes on (fence_key, lsn, detail)) — counts trade fidelity for
        the erasure guarantee."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        redacted = 0
        for root, _dirs, fns in os.walk(self.dl_dir):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                t = pq.read_table(p)
                if "detail" not in t.column_names:
                    continue
                det = t.column("detail").to_pylist()
                mask = [
                    d is not None and any(i in d for i in ids) for d in det
                ]
                if not any(mask):
                    continue
                new_det = pa.array(
                    [None if mk else d for d, mk in zip(det, mask)],
                    pa.string(),
                )
                t2 = t.set_column(
                    t.column_names.index("detail"), "detail", new_det
                )
                tmp = p + f".redact-{uuid.uuid4().hex[:8]}"
                pq.write_table(t2, tmp)
                os.replace(tmp, p)
                redacted += sum(mask)
        return redacted

    def rebucket(self, spark: SparkSession, n_new: int) -> None:
        """Rewrite every register into ``n_new`` hash buckets as one
        snapshot commit — table maintenance for data growth.

        A table created small (say 16 buckets) must be able to grow before
        100× data arrives: every epoch rewrites whole touched buckets, so
        at scale each bucket must stay small enough that a copy-on-write
        rewrite is cheap (≈ a few hundred MB; 100 TB wants ~4096 buckets).
        Same shape as compact_tombstones — read all registers, write them
        under the new bucketing, swap one manifest — so visible state is
        bit-identical and subsequent merge_batch calls prune against the
        new bucket count (the manifest's n_buckets is the single authority
        for both the write layout and the read-side pruning expression).
        Reference analogue: prefix-scoped key layout,
        DeleteAllS3ObjectsByPrefix.kt:115-117.

        Single-writer operation, like vacuum(): run it from the streaming
        driver between epochs (it is one commit, so a crash mid-rebucket
        leaves HEAD on the old layout and the new files as vacuum()-able
        orphans)."""
        if n_new < 1:
            raise ValueError(f"n_new must be >= 1, got {n_new}")
        m = self.manifest()
        regs = self.read_registers(spark)
        files = self._write_register_files(regs, n_new, tag=f"rebucket{n_new}")
        new_manifest = _dc_replace(
            m, version=m.version + 1, n_buckets=n_new, files=files,
            sort_order=[],  # rebucket rewrite is unsorted
        )
        self._write_manifest(new_manifest)
