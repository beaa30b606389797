"""Tests of the benchmark's own machinery, on smoke-sized inputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402
from perfbench.gate import expected, frames_equal  # noqa: E402
from perfbench.inputs import make_inputs  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

SMOKE = {
    "bulk_replay": dataclasses.replace(
        bench.WORKLOADS["bulk_replay"], seed_convs=300, batch_events=400,
        files_per_chunk=2, creates=1, lookups=6, n_buckets=4,
        files_per_bucket=2,
    ),
    "tail_moves": dataclasses.replace(
        bench.WORKLOADS["tail_moves"], seed_convs=300, batch_events=150,
        creates=1, lookups=6, n_buckets=4, files_per_bucket=2,
    ),
}
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from nifi_tekst_bundle_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("spark"))
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf=bench.spark_conf(work))
    yield s
    s.stop()


def smoke_run(spark, tmp_path, workload: str, trace: bool, seed: int = 5):
    """A finished smoke run (setup → drain → serve → check), wrappers
    restored."""
    work = str(tmp_path / f"{workload}-{int(trace)}")
    inputs = make_inputs(workload, seed, SMOKE[workload], work)
    r = bench.Run(workload, inputs, SMOKE[workload], work, trace=trace, spark=spark)
    try:
        r.setup()
        r.drain()
        r.serve()
        r.check()
        r.values = r.layers() if trace else r.e2e()
    finally:
        r.close()
    return r


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("runs")
    return {
        (w, t): smoke_run(spark, tmp, w, t)
        for w in ("bulk_replay", "tail_moves") for t in (False, True)
    }


def _targets():
    from nifi_tekst_bundle_spark import session
    from nifi_tekst_bundle_spark.sources import debezium
    from nifi_tekst_bundle_spark.streaming import runner
    from nifi_tekst_bundle_spark.table.lake import LakeTable

    return [
        (session, "get_spark"), (debezium, "parse_debezium"),
        (runner, "run_to_completion"), (runner, "make_apply_fn"),
        *[(LakeTable, m) for m in ("create", "merge_batch", "lookup", "visible",
                                   "table_changes", "optimize_layout")],
    ]


def _raw(owner, attr):
    return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)


def test_wrappers_restore_originals(tmp_path):
    before = {(o, a): _raw(o, a) for o, a in _targets()}
    r = bench.Run("bulk_replay", None, SMOKE["bulk_replay"], str(tmp_path), trace=True)
    r._install()
    assert all(_raw(o, a) is not before[(o, a)] for o, a in _targets())
    r.close()
    assert all(_raw(o, a) is before[(o, a)] for o, a in _targets())


def test_wrapper_records_span_and_restores_after_error():
    class Box:
        def f(self, x):
            if x < 0:
                raise ValueError(x)
            return x + 1

        @classmethod
        def g(cls):
            return cls

    orig_f, orig_g = Box.__dict__["f"], Box.__dict__["g"]
    t = Tracer()
    t.wrap(Box, "f", "box.f")
    t.wrap(Box, "g", "box.g")
    assert Box().f(1) == 2 and Box.g() is Box
    with pytest.raises(ValueError):
        Box().f(-1)
    assert [s.name for s in t.spans] == ["box.f", "box.g", "box.f"]
    assert all(s.end >= s.start for s in t.spans)
    t.restore()
    assert Box.__dict__["f"] is orig_f and Box.__dict__["g"] is orig_g


def test_job_groups_are_per_tracer():
    assert Tracer()._group_prefix != Tracer()._group_prefix


def test_drained_work_is_fixed_by_seconds():
    for sizes in bench.WORKLOADS.values():
        assert bench.chunks_for(0.0, sizes) == 1
        assert bench.chunks_for(SPEC["run_seconds"], sizes) == 1
        assert bench.chunks_for(2 * sizes.chunk_s, sizes) == 2


def test_nested_spans_self_time():
    t = Tracer()
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    assert i.parent == o.id and o.parent is None
    assert t.self_s(o) == pytest.approx(o.dur - i.dur)


@pytest.mark.parametrize("workload", ["bulk_replay", "tail_moves"])
@pytest.mark.parametrize("trace", [False, True])
def test_smoke_run_passes_gate(runs, workload, trace):
    r = runs[(workload, trace)]
    assert r.gate.failed == [], r.gate.failed
    assert r.gate.attempted >= 10


@pytest.mark.parametrize("workload", ["bulk_replay", "tail_moves"])
def test_every_named_metric_is_emitted_with_unit(runs, workload):
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        block = bench.metrics_block(runs[(workload, trace)].values,
                                    bench.LAYER_UNITS if trace else bench.E2E_UNITS)
        spec = {m["name"]: m["unit"] for m in SPEC[section]}
        assert {k: v["unit"] for k, v in block.items()} == spec
        assert all(isinstance(v["value"], float) for v in block.values())
    e2e = runs[(workload, False)].values
    assert all(v > 0 for v in e2e.values()), e2e


@pytest.mark.parametrize("workload", ["bulk_replay", "tail_moves"])
def test_traced_and_untraced_runs_give_identical_state(runs, workload):
    plain, traced = runs[(workload, False)], runs[(workload, True)]
    assert frames_equal(traced.scan[1], expected(plain.scan[1]))
    assert traced.v_post == plain.v_post


@pytest.mark.parametrize("workload", ["bulk_replay", "tail_moves"])
def test_traced_layers_account_for_the_drain(runs, workload):
    r = runs[(workload, True)]
    v = r.values
    parts = v["lake.commit_s"] + v["runner.self_s"] + v["runner.stream_s"]
    assert parts == pytest.approx(v["runner.drain_s"], rel=0.10)
    assert v["lake.commits"] == r.v_post - r.v_pre
    assert ("commit_jobs_match", True) in r.gate.results
    assert v["lake.commit_jobs"] >= 1 and v["lake.commit_retries"] == 0


def test_corrupted_table_fails_gate(spark, tmp_path):
    r = smoke_run(spark, tmp_path, "bulk_replay", trace=False, seed=9)
    assert r.gate.failed == []
    # empty the largest data file of the current snapshot, in place
    f = max(r.table.manifest().files, key=lambda x: x["bytes"])["path"]
    tbl = pq.read_table(f)
    pq.write_table(tbl.slice(0, 0), f)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):  # Hadoop's local checksum would reject the rewrite
        os.remove(crc)
    try:
        r.serve()
        r.check()
    finally:
        r.close()
    assert any(n.startswith("scan") for n in r.gate.failed), r.gate.failed


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
