"""Benchmark harness: the headline catalog queries and the CDC apply
scaling sweep, each measured in this run under a trial count fixed in
advance.

Prints ONE JSON line:
  {"metric": "...", "value": <total headline seconds>, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ...,
   "cdc_events_per_sec": ..., "scaling": {...}}

The scaling sweep times scan -> validate -> LWW registers -> `noop` sink
over a replicated change log at local[N] and local[4N]: no bucket merge,
file write or fenced commit. `perfbench/` measures the commit path
(source parse through manifest CAS). A run with the sweep rewrites
BENCH/BASELINE.md with this run's numbers.

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default 32)
  SPARK_DRIVER_MEM    (default 48g)
  BENCH_CDC_MULTIPLIER (default 1600) change-log replication factor
  BENCH_SCALING_ROUNDS / BENCH_SCALING_RUNS / BENCH_SCALING_RUNS_SUPP
                      (default 3 / 6 / 2) the trial protocol, see run_scaling
  BENCH_SCALING_PARTITIONS (default 64)
  BENCH_SKIP_SCALING=1 to skip the sweep; BENCH/BASELINE.md is left alone
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from nifi_tekst_bundle_spark.plans import catalog  # noqa: E402
from nifi_tekst_bundle_spark.operators import lww, resolve  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "cdc_lww_final_state",
    "cdc_moves_final_state",
    "q1_pricing_summary",
    "top_parts_by_revenue",
    "window_lww",
    "conv_fold",
    "conv_document",
    "docs_quality",
    "docs_minhash_sig",
    "docs_minhash_pairs",
    "docs_simhash",
    "docs_nfc",
    "docs_pii_scrub",
    "docs_top_word_ratio",
    "xml_extract",
    "conv_document_v2",
    "media_features",
    "ann_topk",
    "lsh_topk",
    "embedding_neardup",
    "embedding_neardup_banded",
    "cdc_debezium_roundtrip",
    "events_sessionize",
    "events_asof_join",
    "docs_contamination",
    "docs_stratified_sample",
    "docs_vocab_topk",
    "docs_incremental_dedup",
    "embedding_quantize",
    "docs_span_dedup",
    "events_session_windows",
    "ivf_kmeans_topk",
    "docs_pack_sequences",
    "docs_chunk_overlap",
    "docs_shuffle",
    "docs_oov_rate",
    "conv_training_examples",
    "conv_role_alternation",
    "conv_loss_mask",
    "conv_truncate",
    "conv_structure_dedup",
    "docs_html_extract",
    "clean_transcripts",
    "emb_kmeans_clusters",
    "cdc_maxwell_roundtrip",
    # production hash backend (xxhash64) — what a real 100-TB run uses; the
    # md5 twins above exist for DuckDB oracle bit-parity and stay listed so
    # the backend gap is visible in every BENCH artifact
    "docs_minhash_sig_prod",
    "docs_minhash_pairs_prod",
    "docs_simhash_prod",
    "docs_incremental_dedup_prod",
    "docs_span_dedup_prod",
    # round-4 analytics additions
    "cdc_watermark_lag",
    "docs_priority_sample",
    "docs_quality_buckets",
    "events_funnel",
    "events_retention",
    "conv_train_eval_split",
    "conv_pii_scrub",
    "conv_near_dups",
    "docs_keyword_search",
    "cdc_scd2_pit_join",
    "cdc_source_order_audit",
    "docs_bpe_pairs",
    "conv_sig_maintain",
    "cdc_dead_letter_replay",
    "conv_document_maintain",
    "cdc_multi_shard_merge",
    "docs_winnowing",
    "docs_winnowing_pairs",
    "emb_truncate_renorm",
    "events_rate_anomaly",
    # round-5 additions
    "cdc_pruned_scan",
    "cdc_pruned_time_scan",
    "docs_bpe_encode",
    "pq_topk",
    "media_phash_pairs",
    "docs_bpe_token_shards",
    "docs_bpe_pack",
]

# replicate the derived change log so the CDC apply job is large enough that
# per-run fixed overhead (planning, stage scheduling, AQE replans — measured
# ~1.8 s/run on this sandbox) is small against the parallel region; at x400
# the 32-core run was overhead-dominated and efficiency read artificially low
CDC_MULTIPLIER = int(os.environ.get("BENCH_CDC_MULTIPLIER", "1600"))

# scaling trials fix the shuffle-partition count across core configs so every
# config runs the identical logical plan (AQE still right-sizes at runtime);
# tying partitions to cores conflates partition-size effects (a 5M-row
# per-partition sort at local[8] spills) with genuine CPU scaling
SCALING_PARTITIONS = int(os.environ.get("BENCH_SCALING_PARTITIONS", "64"))


def make_spark(cpus: int, parts: int | None = None) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(parts or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def force(df) -> int:
    """Fully materialize every column (noop sink — no driver collect)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def amplified_events(spark: SparkSession, sf_dir: str, multiplier: int,
                     n_parts: int | None = None):
    """Deterministic ×multiplier replication of the derived change log with
    unique lsns (copy i shifts lsn by i * 10^9) — same key space, so the
    LWW/merge contention pattern is preserved while volume scales.

    The base table is one small parquet file (a single scan partition), so
    repartition BEFORE the explode: the cheap 100k-row shuffle spreads the
    ×multiplier row generation across all cores — without it the whole
    amplification runs on one task and the job cannot scale.
    """
    n_parts = n_parts or spark.sparkContext.defaultParallelism * 2
    ev = catalog.derive_change_events(spark, sf_dir).repartition(n_parts)
    copies = F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1))).alias("copy")
    amp = ev.select("*", copies).withColumn(
        "lsn", F.col("lsn") + F.col("copy").cast("long") * F.lit(1_000_000_000)
    ).drop("copy")
    return amp


def materialize_events(sf_dir: str, multiplier: int) -> str:
    """Write the amplified change log to parquet once per (sf, multiplier),
    so scaling trials time the apply (scan -> validate -> LWW registers ->
    visible), not row generation. A copy is reused only when Spark's
    `_SUCCESS` marker shows that its write finished."""
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(),
        f"bench_events_{Path(sf_dir).name}_x{multiplier}",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        spark = make_spark(CPUS)
        try:
            amplified_events(spark, sf_dir, multiplier).write.mode(
                "overwrite"
            ).parquet(out)
        finally:
            spark.stop()
    return out


def apply_from_disk(spark: SparkSession, ev_dir: str) -> float:
    t0 = time.time()
    events = spark.read.parquet(ev_dir)
    good, _dead = resolve.validate(events, [])
    normalized = good.select(
        "lsn", "batch_id", "op", "conv_id", "turn_idx", *catalog.CDC_PAYLOAD
    )
    regs = lww.batch_registers(normalized, catalog.CDC_PAYLOAD)
    force(lww.visible(regs, catalog.CDC_PAYLOAD))
    return time.time() - t0


def run_scaling(sf_dir: str, cpus: int) -> dict:
    """North-rule evidence: the same CDC apply job at N and 4N cores.

    The trial count is fixed before the first trial. BENCH_SCALING_ROUNDS
    interleaved rounds pass over the configs; in each round every config
    gets one Spark session, one untimed warm-up apply (JIT, codegen,
    parquet footers, page cache), BENCH_SCALING_RUNS timed applies
    (BENCH_SCALING_RUNS_SUPP for the supplementary pair's configs) and one
    raw-CPU probe (run_pool) in the same load window. Each config reports
    the min and the median of its trials; each pair reports its efficiency
    from both, next to the raw-CPU ceiling from the probes.
    """
    ev_dir = materialize_events(sf_dir, CDC_MULTIPLIER)
    # Two N→4N pairs, both reported: the first is the primary criterion
    # pair, the second (up to all host cores) is supplementary, because on
    # an overcommitted host its efficiency measures the hypervisor — read
    # it against its own same-window raw-CPU ceiling. The 4N side is
    # clamped to the host's CPU count (more threads than cores measures
    # oversubscription), N is exactly a quarter of it, and pairs are
    # deduped (at CPUS=8 both give (2, 8); at CPUS=4 both give (1, 4)).
    his = [min(max(cpus // 2, 8), cpus), cpus]
    pairs = list(dict.fromkeys((hi // 4, hi // 4 * 4) for hi in his if hi >= 4))
    cores_list = sorted({c for p in pairs for c in p})
    rounds = int(os.environ.get("BENCH_SCALING_ROUNDS", "3"))
    runs = int(os.environ.get("BENCH_SCALING_RUNS", "6"))
    runs_supp = int(os.environ.get("BENCH_SCALING_RUNS_SUPP", "2"))
    # both configs of a pair get the same number of trials, so neither side
    # of its ratio gets more chances at a quiet window than the other
    primary_cores = set(pairs[0]) if pairs else set()
    runs_of = {c: runs if c in primary_cores else runs_supp for c in cores_list}
    times: dict[int, list] = {c: [] for c in cores_list}
    cpu_times: dict[int, list] = {c: [] for c in cores_list}
    n_events = None
    for _ in range(rounds):
        for c in cores_list:
            spark = make_spark(c, parts=SCALING_PARTITIONS)
            try:
                if n_events is None:
                    n_events = spark.read.parquet(ev_dir).count()
                apply_from_disk(spark, ev_dir)  # untimed warm-up
                for _r in range(runs_of[c]):
                    times[c].append(apply_from_disk(spark, ev_dir))
            finally:
                spark.stop()
            cpu_times[c].append(run_pool(c))
    best = {c: min(ts) for c, ts in times.items()}
    med = {c: statistics.median(ts) for c, ts in times.items()}
    cpu_best = {c: min(ts) for c, ts in cpu_times.items()}
    out: dict = {
        "events": n_events,
        "protocol": {"rounds": rounds, "runs": runs, "runs_supplementary": runs_supp},
        "trials": {str(c): len(times[c]) for c in cores_list},
        "configs": {},
    }
    for c in cores_list:
        out["configs"][str(c)] = {
            "cores": c,
            "trials": len(times[c]),
            "seconds": round(best[c], 3),
            "median_seconds": round(med[c], 3),
            "events_per_sec": round(n_events / best[c], 1),
        }
    out["pairs"] = []
    for i, (lo, hi) in enumerate(pairs):
        eff = (best[lo] / best[hi]) / (hi / lo)
        cpu_eff = (cpu_best[lo] / cpu_best[hi]) / (hi / lo)
        out["pairs"].append(
            {
                "n": lo,
                "4n": hi,
                "primary": i == 0,
                "speedup": round(best[lo] / best[hi], 2),
                "efficiency": round(eff, 3),
                "median_efficiency": round((med[lo] / med[hi]) / (hi / lo), 3),
                "cpu_ceiling": round(cpu_eff, 3),
                "efficiency_vs_ceiling": round(eff / cpu_eff, 3),
            }
        )
    return out


def _burn(n):
    import hashlib

    h = b"x"
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return h[0]


def run_pool(p: int) -> float:
    """Pure-CPU probe (sha256 over a multiprocessing pool, no JVM): how
    fast p-way parallelism runs on this host right now. The N vs 4N ratio
    of these is the physical ceiling the host allows in that window."""
    import multiprocessing

    t0 = time.time()
    with multiprocessing.Pool(p) as pool:
        pool.map(_burn, [300000] * 64)
    return time.time() - t0


def write_baseline_md(scaling: dict, queries: dict, sf_dir: str) -> None:
    """Render this run's sweep and query times to BENCH/BASELINE.md as
    given; nothing is carried over from an earlier run."""
    os.makedirs(REPO / "BENCH", exist_ok=True)
    proto = scaling["protocol"]
    lines = [
        "# BENCH/BASELINE.md — measured engine throughput + scaling evidence",
        "",
        f"Input: derived change log from `{sf_dir}/events.parquet`,",
        f"replicated x{CDC_MULTIPLIER} with unique lsns (same key space),",
        f"pre-materialized to parquet: **{scaling['events']:,} events**.",
        "Job: scan -> validate -> LWW registers -> visible state, fully",
        "materialized via the noop sink, with no fenced commit (`perfbench/`",
        "measures the commit path). Every config runs the identical logical",
        f"plan ({SCALING_PARTITIONS} shuffle partitions, AQE on).",
        "",
        "Protocol, fixed before the first trial: rounds interleaved across",
        "configs; in each round every config gets one session, one untimed",
        "warm-up apply, its timed applies and one raw-CPU probe. Rounds:",
        f"{proto['rounds']}; timed applies per round: {proto['runs']}"
        f" ({proto['runs_supplementary']} for the supplementary pair's configs).",
        f"Trials per config: {scaling['trials']}.",
        "Every number below is from this one run.",
        "",
        "## North-rule scaling criterion",
        "",
        "| cores | trials | seconds (min) | seconds (median) | events/sec (min) |",
        "|---|---|---|---|---|",
    ]
    for _c, cfg in sorted(scaling["configs"].items(), key=lambda kv: int(kv[0])):
        lines.append(
            f"| local[{cfg['cores']}] | {cfg['trials']} | {cfg['seconds']} |"
            f" {cfg['median_seconds']} | {cfg['events_per_sec']:,} |"
        )
    lines += [
        "",
        "| pair | speedup (min) | efficiency (min) | efficiency (median) |"
        " raw-CPU ceiling (same windows) | efficiency (min) vs ceiling |",
        "|---|---|---|---|---|---|",
    ]
    for p in scaling["pairs"]:
        tag = "primary" if p["primary"] else "supplementary"
        lines.append(
            f"| {p['n']}→{p['4n']} cores ({tag}) | {p['speedup']}× |"
            f" **{p['efficiency']}** | **{p['median_efficiency']}** |"
            f" {p['cpu_ceiling']} | {p['efficiency_vs_ceiling']} |"
        )
    lines += [
        "",
        "Criterion: ≥ 0.8 between N and 4N executors. The raw-CPU ceiling is",
        "a no-JVM multiprocessing sha256 probe run in the same load windows",
        "as the Spark trials: how much parallelism the host physically",
        "delivered while they ran. The last column divides the engine's",
        "efficiency by that ceiling. The supplementary pair runs up to every",
        "host core; on an overcommitted host its efficiency measures the",
        "hypervisor, so read it against its own ceiling column.",
        "",
        "## Headline query seconds (local[%d], %s)" % (CPUS, sf_dir),
        "",
        "Each value is the faster of this run's two passes over the list",
        "(the first pass also pays JVM/JIT/codegen warm-up).",
        "",
        "| query | seconds |",
        "|---|---|",
    ]
    lines += [f"| {k} | {v} |" for k, v in queries.items()]
    (REPO / "BENCH" / "BASELINE.md").write_text("\n".join(lines) + "\n")


def main() -> None:
    sf = SF_DIR.rstrip("/").split("/")[-1].replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = -1.0

    spark = make_spark(CPUS)
    qtimes: dict[str, float] = {}
    try:
        # best of 2 passes: pass 1 absorbs JVM/JIT/codegen warmup that would
        # otherwise be billed entirely to the first query in the list
        for _ in range(2):
            for name in HEADLINE:
                fn = catalog.QUERIES[name]
                t0 = time.time()
                force(fn(spark, SF_DIR))
                t = round(time.time() - t0, 3)
                qtimes[name] = min(qtimes.get(name, t), t)
    finally:
        spark.stop()

    result = {
        "metric": "headline_queries_total_seconds",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": sf_val,
    }

    if os.environ.get("BENCH_SKIP_SCALING") != "1":
        scaling = run_scaling(SF_DIR, CPUS)
        result["scaling"] = scaling
        top = max(scaling["configs"].values(), key=lambda c: c["cores"])
        result["cdc_events_per_sec"] = top["events_per_sec"]
        write_baseline_md(scaling, qtimes, SF_DIR)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
