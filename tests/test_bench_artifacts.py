"""Bench measurement protocol (bench.py): the scaling sweep runs exactly
the trial count it declares, and BASELINE.md shows what the run measured,
never a better number from an earlier run (pure python, no Spark)."""

from __future__ import annotations

from types import SimpleNamespace

import bench


def test_run_scaling_runs_the_declared_trials_below_criterion(monkeypatch):
    """Primary efficiency reads 0.5 here; the sweep must still stop at
    rounds × runs trials per config instead of resampling until it passes."""
    monkeypatch.setenv("BENCH_SCALING_ROUNDS", "2")
    monkeypatch.setenv("BENCH_SCALING_RUNS", "3")
    monkeypatch.setenv("BENCH_SCALING_RUNS_SUPP", "1")
    monkeypatch.setattr(bench, "materialize_events", lambda sf, m: "/ev")
    monkeypatch.setattr(bench, "run_pool", lambda p: 1.0)

    def make_spark(cpus, parts=None):
        return SimpleNamespace(
            cores=cpus,
            read=SimpleNamespace(
                parquet=lambda d: SimpleNamespace(count=lambda: 1000)
            ),
            stop=lambda: None,
        )

    calls = []

    def apply_from_disk(spark, ev_dir):
        calls.append(spark.cores)
        # sqrt scaling: 4× cores gives 2× speed, efficiency 0.5; every
        # third call is 10% slower so min and median differ
        return 10.0 / spark.cores ** 0.5 * (1.1 if len(calls) % 3 == 0 else 1.0)

    monkeypatch.setattr(bench, "make_spark", make_spark)
    monkeypatch.setattr(bench, "apply_from_disk", apply_from_disk)

    out = bench.run_scaling("/sf", 32)
    # pairs (4, 16) primary and (8, 32) supplementary
    assert out["trials"] == {"4": 6, "8": 2, "16": 6, "32": 2}
    assert [(p["n"], p["4n"]) for p in out["pairs"]] == [(4, 16), (8, 32)]
    assert {c: cfg["trials"] for c, cfg in out["configs"].items()} == out["trials"]
    # one warm-up apply per config per round on top of the timed ones
    assert len(calls) == 16 + 2 * 4
    assert out["protocol"] == {"rounds": 2, "runs": 3, "runs_supplementary": 1}
    primary = out["pairs"][0]
    assert primary["primary"] and (primary["n"], primary["4n"]) == (4, 16)
    assert primary["efficiency"] == 0.5 and primary["cpu_ceiling"] == 0.25
    for cfg in out["configs"].values():
        assert cfg["seconds"] <= cfg["median_seconds"]
    assert "median_efficiency" in primary

    # a small host still gets an N→4N pair, never a 2× step labelled 4×
    for cpus, want in ((4, [(1, 4)]), (8, [(2, 8)]), (16, [(2, 8), (4, 16)])):
        out = bench.run_scaling("/sf", cpus)
        pairs = [(p["n"], p["4n"]) for p in out["pairs"]]
        assert pairs == want, cpus
        assert all(hi == 4 * lo for lo, hi in pairs)


def test_materialize_events_keys_on_sf_and_needs_success(monkeypatch, tmp_path):
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(
        bench, "make_spark", lambda cpus, parts=None: SimpleNamespace(stop=lambda: None)
    )
    writes = []

    def parquet(out):
        writes.append(out)
        (tmp_path / out).mkdir(parents=True, exist_ok=True)
        (tmp_path / out / "_SUCCESS").touch()

    writer = SimpleNamespace(mode=lambda m: SimpleNamespace(parquet=parquet))
    monkeypatch.setattr(
        bench, "amplified_events", lambda s, sf, m: SimpleNamespace(write=writer)
    )

    small = bench.materialize_events("/data/sf0.01", 4)
    assert bench.materialize_events("/data/sf0.01/", 4) == small  # reused
    big = bench.materialize_events("/data/sf0.1", 4)
    assert big != small and writes == [small, big]
    # a copy without _SUCCESS (a crashed write) is rewritten, not reused
    (tmp_path / big / "_SUCCESS").unlink()
    assert bench.materialize_events("/data/sf0.1", 4) == big
    assert writes == [small, big, big]


def _sweep(primary_eff: float) -> dict:
    return {
        "events": 1000,
        "protocol": {"rounds": 1, "runs": 2, "runs_supplementary": 1},
        "trials": {"4": 2, "16": 2},
        "configs": {
            "4": {"cores": 4, "trials": 2, "seconds": 40.0,
                  "median_seconds": 41.0, "events_per_sec": 25.0},
            "16": {"cores": 16, "trials": 2,
                   "seconds": 40.0 / (4 * primary_eff),
                   "median_seconds": 41.0 / (4 * primary_eff),
                   "events_per_sec": 25.0 * 4 * primary_eff},
        },
        "pairs": [
            {"n": 4, "4n": 16, "primary": True, "speedup": 4 * primary_eff,
             "efficiency": primary_eff, "median_efficiency": primary_eff,
             "cpu_ceiling": 0.9,
             "efficiency_vs_ceiling": round(primary_eff / 0.9, 3)},
        ],
    }


def test_write_baseline_md_renders_this_run_as_given(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "REPO", tmp_path)
    p = tmp_path / "BENCH" / "BASELINE.md"
    bench.write_baseline_md(_sweep(0.88), {"q_a": 2.0}, "/sf")
    text = p.read_text()
    assert "**0.88**" in text and "| q_a | 2.0 |" in text
    assert "| local[4] | 2 | 40.0 | 41.0 | 25.0 |" in text
    # a worse sweep and slower queries replace the better ones verbatim
    bench.write_baseline_md(_sweep(0.7), {"q_a": 2.5, "q_b": 1.0}, "/sf")
    text = p.read_text()
    assert "**0.7**" in text and "**0.88**" not in text
    assert "| q_a | 2.5 |" in text and "| q_a | 2.0 |" not in text
    assert "| q_b | 1.0 |" in text
    assert "best observed" not in text
