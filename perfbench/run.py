#!/usr/bin/env python3
"""Commit-path benchmark of the CDC engine.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 8 --trace 0

Run from the repository root. One run generates its inputs from ``--seed``,
sets up Spark and a seeded table, drains a pre-written change log through
``streaming.runner.run_to_completion`` (a fixed number of chunks for a
given ``--seconds``), serves reads on the table the drain laid out, and
checks every output against ``oracle.replay``. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the spans go to
``.perfbench/traces/``.
README.md in this directory defines every workload and metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload."""

    seed_convs: int  # seeded conversations; ~6.5 turns each
    batch_events: int  # events per producer batch (one segment file)
    files_per_epoch: int  # maxFilesPerTrigger of the drain
    files_per_chunk: int  # segments per timed run_to_completion call
    warmup_files: int  # segments drained during set-up
    chunk_s: float  # nominal seconds one chunk drains in on 4 vCPUs
    creates: int = 3  # seeded LakeTable.create repetitions in set-up
    lookups: int = 10
    n_buckets: int = 16
    files_per_bucket: int = 4  # optimize_layout range split


WORKLOADS = {
    "bulk_replay": Sizes(
        seed_convs=2000, batch_events=4000, files_per_epoch=2,
        files_per_chunk=4, warmup_files=1, chunk_s=10.0,
    ),
    "tail_moves": Sizes(
        seed_convs=10000, batch_events=1500, files_per_epoch=1,
        files_per_chunk=2, warmup_files=1, chunk_s=12.0,
    ),
}
OPTIMIZES = 2  # optimize_layout repetitions; optimize_s is their median


def chunks_for(seconds: float, sizes: Sizes) -> int:
    """Chunks the timed drain takes: a fixed amount of work for a given
    ``--seconds``, so how much is drained never depends on how fast the
    engine drains it."""
    return max(1, round(seconds / sizes.chunk_s))


E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "events_per_s": "1/s",
    "commit_p50_s": "s",
    "cpu_ms_per_event": "ms",
    "write_bytes_per_event": "B",
    "lookup_p50_s": "s",
    "lookup_p80_s": "s",
    "optimize_s": "s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "lake.create_s": "s",
    "runner.drain_s": "s",
    "lake.commit_s": "s",
    "runner.self_s": "s",
    "runner.stream_s": "s",
    "lake.commit_jobs": "count",
    "lake.commit_cpu_s": "s",
    "lake.bytes_written_per_commit": "B",
    "lake.buckets_rewritten_frac": "ratio",
    "lake.manifest_bytes": "B",
    "lww.fold_s_per_kevent": "s",
    "resolve.moves_s_per_kevent": "s",
    "sources.parse_s_per_kevent": "s",
    "sources.wire_bytes_per_event": "B",
    "lake.lookup_jobs": "count",
    "lake.lookup_files_read": "count",
    "lake.scan_s": "s",
    "lake.changes_s": "s",
    "lake.pruned_scan_s": "s",
    "lake.pruned_files_skipped": "count",
    "lake.optimize_bytes_written": "B",
    "runner.epochs": "count",
    "lake.commits": "count",
    "lake.dead_lettered": "count",
    "lake.commit_retries": "count",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "proc.gc_s": "s",
}


def spark_conf(work: str) -> dict[str, str]:
    """Fixed session settings, so runs differ only in their inputs."""
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000",
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def _pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``xs``."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Run:
    """One workload run, phase by phase: setup → drain → serve → check.

    ``spark`` may be passed in (tests share one session); otherwise setup
    starts one and :meth:`close` stops it and waits for its processes."""

    def __init__(self, workload: str, inputs, sizes: Sizes, work: str,
                 trace: bool, spark=None):
        from perfbench.spans import Tracer

        self.workload, self.inputs, self.sizes, self.work = workload, inputs, sizes, work
        self.trace = trace
        self.tracer = Tracer(jobs=trace)
        self.spark = spark
        self.own_spark = spark is None

    # ---------------------------------------------------------------- setup

    def _install(self) -> None:
        from nifi_tekst_bundle_spark import session
        from nifi_tekst_bundle_spark.sources import debezium
        from nifi_tekst_bundle_spark.streaming import runner
        from nifi_tekst_bundle_spark.table.lake import LakeTable

        t = self.tracer
        # merge_batch is timed in every run: commit_p50_s needs it
        t.wrap(LakeTable, "merge_batch", "lake.merge_batch")
        if not self.trace:
            return
        t.wrap(session, "get_spark", "session.get_spark")
        t.wrap(LakeTable, "create", "lake.create")
        t.wrap(runner, "run_to_completion", "runner.run_to_completion")
        t.wrap(runner, "make_apply_fn", "runner.make_apply_fn",
               wrap_result=lambda fn: t.spanned("runner.epoch", fn))
        for m in ("lookup", "visible", "table_changes", "optimize_layout"):
            t.wrap(LakeTable, m, f"lake.{m}")
        t.wrap(debezium, "parse_debezium", "sources.parse_debezium")

    def setup(self) -> None:
        from nifi_tekst_bundle_spark import session
        from nifi_tekst_bundle_spark.schemas import TRANSCRIPTS_SCHEMA
        from nifi_tekst_bundle_spark.streaming import runner
        from nifi_tekst_bundle_spark.table.lake import LakeTable
        from perfbench.spans import JvmProbe

        self._install()
        inp, sz = self.inputs, self.sizes
        t0 = time.perf_counter()
        if self.spark is None:
            n = len(os.sched_getaffinity(0))
            self.spark = session.get_spark(
                app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
                extra_conf=spark_conf(self.work),
            )
        self.spark_s = time.perf_counter() - t0
        spark = self.spark
        self.probe = JvmProbe(spark)
        self.tracer.bind(self.probe)

        seed = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(inp.seed_path)
        self.create_s = []
        for r in range(sz.creates):
            t1 = time.perf_counter()
            self.table = LakeTable.create(
                spark, os.path.join(self.work, f"table{r}"), seed_df=seed,
                n_buckets=sz.n_buckets,
            )
            self.create_s.append(time.perf_counter() - t1)
        self.v_seed = self.table.manifest().version
        t2 = time.perf_counter()
        runner.run_to_completion(
            spark, inp.warmup_dir, self.table, os.path.join(self.work, "ckpt-w"),
            run_id="w", max_files_per_trigger=sz.files_per_epoch,
            source_format=inp.source_format,
        )
        self.warm_commit_s = time.perf_counter() - t2
        # first reads of a JVM are several times slower than later ones
        self.table.lookup(spark, inp.hot_convs[0]).toPandas()
        self.table.visible(spark).toPandas()
        self.warm_s = time.perf_counter() - t2
        self.setup_s = self.spark_s + statistics.median(self.create_s) + self.warm_s
        self.v_pre = self.table.manifest().version

    # ---------------------------------------------------------------- drain

    def drain(self) -> None:
        from nifi_tekst_bundle_spark.streaming import runner
        from perfbench.spans import proc_cpu_s

        inp, sz, spark = self.inputs, self.sizes, self.spark
        probe = self.probe
        self.data_before = set(os.listdir(self.table.data_dir))
        c0, j0, p0, g0 = self.tracer.cpu.read(), proc_cpu_s(probe.pid), time.process_time(), probe.gc_s()
        self.drained, self.epochs, self.commits = [], 0, 0
        t0 = time.perf_counter()
        for k, d in enumerate(inp.chunk_dirs):
            st = runner.run_to_completion(
                spark, d, self.table, os.path.join(self.work, f"ckpt-{k}"),
                run_id=f"c{k}", max_files_per_trigger=sz.files_per_epoch,
                source_format=inp.source_format,
            )
            self.drained.append(k)
            self.epochs += st.epochs_seen
            self.commits += st.commits
        t1 = time.perf_counter()
        self.drain_window = (t0, t1)
        self.drain_s = t1 - t0
        self.drain_cpu_s = self.tracer.cpu.read() - c0
        self.jvm_cpu_s = proc_cpu_s(probe.pid) - j0
        self.python_cpu_s = time.process_time() - p0
        self.gc_s = probe.gc_s() - g0
        self.v_post = self.table.manifest().version
        self.data_after = set(os.listdir(self.table.data_dir))
        self.batches_drained = [i for k in self.drained for i in inp.chunk_batches[k]]
        self.events = inp.events(self.batches_drained)

    # ---------------------------------------------------------------- serve

    def _timed(self, name: str, fn):
        with self.tracer.span(name) as s:
            out = fn()
        return s.dur, out

    def serve(self) -> None:
        inp, sz, spark, table, span = self.inputs, self.sizes, self.spark, self.table, self._timed
        self.lookups = []
        for kind, key in inp.lookup_keys:
            secs, frame = span("serve.lookup", lambda: table.lookup(spark, key).toPandas())
            self.lookups.append((kind, key, secs, frame, table.last_scan["files_read"]))
        self.scan = span("serve.scan", lambda: table.visible(spark).toPandas())
        self.changes = span(
            "serve.changes",
            lambda: table.table_changes(spark, self.v_seed, self.v_post).toPandas())
        self.optimize = [
            span("serve.optimize", lambda: table.optimize_layout(
                spark, sort_cols=("ts",), files_per_bucket=sz.files_per_bucket))
            for _ in range(OPTIMIZES)
        ]
        self.v_opt = table.manifest().version
        secs, frame = span("serve.pruned_scan", lambda: table.visible(
            spark, prune={"ts": inp.ts_window}).toPandas())
        self.pruned = (secs, frame, table.last_scan["files_skipped"])

    # ---------------------------------------------------------------- check

    def expected_commits(self) -> tuple[int, int]:
        """(epochs, commits) the drain must produce: maxFilesPerTrigger
        consecutive segments per epoch, commit runs per ``plan_runs``."""
        from nifi_tekst_bundle_spark.streaming.runner import plan_runs
        from perfbench.inputs import CORRUPT_BATCH_ID

        inp, f = self.inputs, self.sizes.files_per_epoch
        epochs = commits = 0
        for k in self.drained:
            idx = inp.chunk_batches[k]
            for e in range(0, len(idx), f):
                moves: dict[str, bool] = {}
                for i in idx[e:e + f]:
                    b = inp.batches[i]
                    for bid, g in b.groupby("batch_id"):
                        moves[bid] = moves.get(bid, False) or bool((g["op"] == "move").any())
                    if inp.corrupt[i]:
                        moves.setdefault(CORRUPT_BATCH_ID, False)
                epochs += 1
                commits += len(plan_runs(sorted(moves.items())))
        return epochs, commits

    def check(self):
        import pandas as pd

        from nifi_tekst_bundle_spark import oracle
        from perfbench.inputs import CORRUPT_BATCH_ID
        from perfbench.gate import (
            Gate, dead_letter_multiset, expected, expected_changes, frames_equal,
        )

        inp, g = self.inputs, Gate()
        applied = inp.warmup_batches + self.batches_drained
        ora = oracle.replay(inp.seed_df, [inp.batches[i] for i in applied])
        state = expected(ora.state)

        g.check("scan", frames_equal(self.scan[1], state))
        for kind, key, _, frame, _ in self.lookups:
            g.check(f"lookup {kind} {key}", frames_equal(frame, state[state["conv_id"] == key]))
        seeded = inp.seed_df.reindex(columns=ora.state.columns)  # the seed snapshot's state
        want_changes = expected(expected_changes(expected(seeded), state))
        order = ["conv_id", "turn_idx", "change_type"]
        g.check("changes", frames_equal(self.changes[1], want_changes, order=order))
        lo, hi = inp.ts_window
        ts = pd.to_datetime(state["ts"])
        want_pruned = state[(ts >= lo) & (ts <= hi)]
        _, frame, skipped = self.pruned
        g.check("pruned", frames_equal(frame, want_pruned) and skipped >= 1)

        def corrupt_rows(idx):
            return [{"lsn": None, "batch_id": CORRUPT_BATCH_ID, "op": None, "reason": "bad_op"}
                    for i in idx for _ in inp.corrupt[i]]

        want_dead = ora.dead_letters.to_dict("records")
        got = self.table.dead_letters(self.spark).collect()
        g.check("dead_letters", dead_letter_multiset(got)
                == dead_letter_multiset(want_dead + corrupt_rows(applied)))
        drained_fences = tuple(f"c{k}/" for k in self.drained)
        drained_ids = {inp.batches[i]["batch_id"].iloc[0] for i in self.batches_drained}
        self.dead_lettered = sum(1 for r in got if r["fence_key"].startswith(drained_fences))
        g.check("dead_lettered_count", self.dead_lettered == len(corrupt_rows(self.batches_drained))
                + sum(1 for r in want_dead if r["batch_id"] in drained_ids))
        # the drained log carries malformed events, so the dead-letter
        # side table is written inside the timed region
        g.check("dead_lettered_some", self.dead_lettered > 0)

        epochs, commits = self.expected_commits()
        g.check("epochs", self.epochs == epochs)
        g.check("commits", self.commits == commits == self.v_post - self.v_pre)
        self.retries = self.commit_retries()
        g.check("commit_retries", self.retries == 0)
        self.gate = g
        return g

    # -------------------------------------------------------------- metrics

    def _added(self, v: int) -> list[dict]:
        """Data files in snapshot ``v`` that ``v - 1`` did not reference."""
        t = self.table
        old = {f["path"] for f in t.manifest_at(v - 1).files}
        return [f for f in t.manifest_at(v).files if f["path"] not in old]

    def commit_retries(self) -> int:
        """Data directories the drain wrote that no committed snapshot
        references: each is a commit attempt that lost the manifest CAS."""
        ref = {
            os.path.dirname(os.path.dirname(f["path"]))
            for v in range(self.v_pre + 1, self.v_post + 1) for f in self._added(v)
        }
        data = self.table.data_dir
        written = {os.path.join(data, d) for d in self.data_after - self.data_before}
        return len(written - ref)

    def commit_spans(self):
        t0, t1 = self.drain_window
        return [s for s in self.tracer.spans
                if s.name == "lake.merge_batch" and t0 <= s.start <= t1]

    def e2e(self) -> dict[str, float]:
        from perfbench.spans import vm_hwm_mb

        commit_bytes = sum(
            f["bytes"] for v in range(self.v_pre + 1, self.v_post + 1) for f in self._added(v)
        )
        lookups = [x[2] for x in self.lookups]
        return {
            "setup_s": self.setup_s,
            "peak_rss_mb": vm_hwm_mb(self.probe.pid),
            "events_per_s": self.events / self.drain_s,
            "commit_p50_s": statistics.median(s.dur for s in self.commit_spans()),
            "cpu_ms_per_event": 1e3 * self.drain_cpu_s / self.events,
            "write_bytes_per_event": commit_bytes / self.events,
            "lookup_p50_s": _pct(lookups, 50),
            "lookup_p80_s": _pct(lookups, 80),
            "optimize_s": statistics.median(x[0] for x in self.optimize),
        }

    def _layer_probes(self) -> dict[str, float]:
        """Per-kevent cost of source decode, LWW fold and move resolution,
        each timed alone (median of three, to a ``noop`` sink) on the first
        epoch the timed drain committed."""
        from pyspark.sql import functions as F

        from nifi_tekst_bundle_spark.operators import lww, resolve
        from nifi_tekst_bundle_spark.schemas import CHANGE_EVENT_SCHEMA, PAYLOAD_COLUMNS
        from nifi_tekst_bundle_spark.sources import debezium

        inp, spark = self.inputs, self.spark
        d = inp.chunk_dirs[self.drained[0]]
        idx = inp.chunk_batches[self.drained[0]][: self.sizes.files_per_epoch]
        files = [os.path.join(d, f) for f in sorted(os.listdir(d))][: len(idx)]
        kev = inp.events(idx) / 1e3
        if inp.source_format == "debezium":
            src = debezium.parse_debezium(spark.read.text(files))
        else:
            src = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*files)

        def med3(df_fn) -> float:
            ts = []
            for _ in range(3):
                t = time.perf_counter()
                df_fn().write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t)
            return statistics.median(ts) / kev

        parse = med3(lambda: src)
        ev = src.persist()
        ev.count()
        payload = list(self.table.manifest_at(self.v_pre).payload_cols)
        promoted = [c for c in payload if c not in PAYLOAD_COLUMNS]
        fold = med3(lambda: lww.batch_registers(
            resolve.validate(ev, promoted)[0].filter(F.col("op") != "move"), payload))
        good = resolve.validate(ev, promoted)[0].persist()
        good.count()
        moves = med3(lambda: resolve.expand_moves(
            good, self.table.visible_at(spark, self.v_pre), payload)[0])
        good.unpersist()
        ev.unpersist()
        return {
            "sources.parse_s_per_kevent": parse,
            "lww.fold_s_per_kevent": fold,
            "resolve.moves_s_per_kevent": moves,
        }

    def layers(self) -> dict[str, float]:
        t = self.tracer
        t0, t1 = self.drain_window
        runs = [s for s in t.spans if s.name == "runner.run_to_completion" and t0 <= s.start <= t1]
        epochs = t.within(runs, "runner.epoch")
        commits = self.commit_spans()
        versions = range(self.v_pre + 1, self.v_post + 1)
        added = [self._added(v) for v in versions]
        n_buckets = self.sizes.n_buckets
        lookups = [s for s in t.spans if s.name == "serve.lookup"]
        out = {
            "session.start_s": self.spark_s,
            "lake.create_s": statistics.median(s.dur for s in t.spans if s.name == "lake.create"),
            "runner.drain_s": self.drain_s,
            "lake.commit_s": sum(t.self_s(c) for c in commits),
            "runner.self_s": sum(e.dur - sum(c.dur for c in commits if c.parent == e.id)
                                 for e in epochs),
            "runner.stream_s": sum(r.dur - sum(e.dur for e in epochs if e.parent == r.id)
                                   for r in runs),
            "lake.commit_jobs": statistics.median(c.jobs for c in commits),
            "lake.commit_cpu_s": statistics.median(c.cpu_s for c in commits),
            "lake.bytes_written_per_commit": statistics.median(
                sum(f["bytes"] for f in a) for a in added),
            "lake.buckets_rewritten_frac": statistics.mean(
                len({f["bucket"] for f in a}) / n_buckets for a in added),
            "lake.manifest_bytes": len(self.table.manifest_at(self.v_post).to_json().encode()),
            "sources.wire_bytes_per_event": sum(
                self.inputs.wire_bytes[i] for i in self.batches_drained) / self.events,
            "lake.lookup_jobs": statistics.median(s.jobs for s in lookups),
            "lake.lookup_files_read": statistics.median(x[4] for x in self.lookups),
            # full, CDF and pruned reads of ~0.3-1.5 s: their run-to-run spread
            # was too wide for an end-to-end bound, so they are layer metrics
            "lake.scan_s": self.scan[0],
            "lake.changes_s": self.changes[0],
            "lake.pruned_scan_s": self.pruned[0],
            "lake.pruned_files_skipped": self.pruned[2],
            "lake.optimize_bytes_written": sum(f["bytes"] for f in self._added(self.v_opt)),
            "runner.epochs": self.epochs,
            "lake.commits": self.commits,
            "lake.dead_lettered": self.dead_lettered,
            "lake.commit_retries": self.retries,
            "proc.jvm_cpu_s": self.jvm_cpu_s,
            "proc.python_cpu_s": self.python_cpu_s,
            "proc.gc_s": self.gc_s,
        }
        # job groups and the DAG job-id delta must agree on every commit
        self.gate.check("commit_jobs_match", all(t.group_jobs(c) == c.jobs for c in commits))
        out.update(self._layer_probes())
        return out

    # ---------------------------------------------------------------- close

    def close(self) -> None:
        self.tracer.restore()
        if not (self.own_spark and self.spark is not None):
            return
        import subprocess

        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


def _wait_children(timeout: float = 60.0) -> None:
    """Wait until every process this one started has exited."""
    from perfbench.spans import _stat

    deadline = time.time() + timeout
    me = os.getpid()
    while time.time() < deadline:
        kids = [p for p in os.listdir("/proc") if p.isdigit() and (s := _stat(p)) and s[0] == me]
        if not kids:
            return
        for p in kids:
            try:
                os.waitpid(int(p), os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def metrics_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "nifi_tekst_bundle_spark" / "__init__.py").is_file():
        print(f"engine package nifi_tekst_bundle_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.inputs import make_inputs

    base = ROOT / ".perfbench"
    work = str(base / f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sizes = WORKLOADS[args.workload]
    run = None
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        print(f"[perfbench] {name} done at {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    try:
        inputs = make_inputs(args.workload, args.seed, sizes, work,
                             chunks_for(args.seconds, sizes))
        phase("inputs")
        run = Run(args.workload, inputs, sizes, work, trace=bool(args.trace))
        run.setup()
        phase(f"setup (spark {run.spark_s:.1f} s, creates {[round(x, 2) for x in run.create_s]}, "
              f"warm-up {run.warm_s:.1f} s, of it commits {run.warm_commit_s:.1f} s)")
        run.drain()
        phase(f"drain ({len(run.drained)} chunks, {run.events} events, {run.drain_s:.1f} s)")
        run.serve()
        phase("serve")
        gate = run.check()
        phase("check")
        e2e = run.e2e()
        if args.trace:
            values, units = run.layers(), LAYER_UNITS
            trace_dir = base / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            path = trace_dir / f"{args.workload}-s{args.seed}.json"
            path.write_text(json.dumps(
                {"workload": args.workload, "seed": args.seed, "e2e_traced": e2e,
                 "layers": values, "checks": gate.results, "spans": run.tracer.dump()},
                indent=1))
            print(f"traced end-to-end: {json.dumps(e2e)}", file=sys.stderr)
            print(f"spans: {path}", file=sys.stderr)
        else:
            values, units = e2e, E2E_UNITS
    finally:
        if run is not None:
            run.close()
        _wait_children()
        shutil.rmtree(work, ignore_errors=True)
        phase("close")
    if gate.failed:
        print(f"correctness gate failed: {gate.failed}", file=sys.stderr)
    print(json.dumps({
        "correct": not gate.failed,
        "attempted": gate.attempted,
        "failed": len(gate.failed),
        "metrics": metrics_block(values, units),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
