"""spark-submit entry point: tail a change-event log directory into a
LakeTable with exactly-once fenced commits.

The north-rule deployment shape — the engine shipped as a --py-files
archive and driven by spark-submit on a multi-executor cluster:

    python scripts/package_pyfiles.py            # -> dist/engine.zip
    spark-submit --master <cluster> \
        --py-files dist/engine.zip \
        scripts/submit_apply.py \
        --events /path/to/event_log \
        --table  /path/to/lake_table \
        --checkpoint /path/to/ckpt \
        [--seed /path/to/seed.parquet] [--run-id r1] \
        [--max-files-per-trigger 4] [--n-buckets 64]

Re-running after a crash resumes from the checkpoint; re-delivered epochs
hit the commit fence and apply nothing (see streaming/runner.py). The same
script run twice against the same log is a no-op the second time — that is
the exactly-once contract, testable on any cluster.

This is the fenced commit path that `perfbench/` measures. bench.py's
scaling sweep measures less: scan -> validate -> LWW -> `noop` sink, with
no fenced commit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# when launched by spark-submit from the repo, the package is importable
# from the repo root; under --py-files the zip is already on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--events", required=True, help="change-event log dir (parquet)")
    p.add_argument("--table", required=True, help="LakeTable root dir")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--seed", default=None, help="optional seed transcripts parquet")
    p.add_argument("--run-id", default="run")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--n-buckets", type=int, default=64)
    args = p.parse_args(argv)

    from nifi_tekst_bundle_spark.streaming import runner
    from nifi_tekst_bundle_spark.table.lake import LakeTable

    spark = SparkSession.builder.appName("cdc-apply").getOrCreate()

    if os.path.exists(os.path.join(args.table, "metadata", "HEAD")):
        table = LakeTable.load(args.table)
    else:
        seed_df = spark.read.parquet(args.seed) if args.seed else None
        table = LakeTable.create(
            spark, args.table, seed_df=seed_df, n_buckets=args.n_buckets
        )

    stats = runner.run_to_completion(
        spark,
        args.events,
        table,
        args.checkpoint,
        run_id=args.run_id,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    print(
        json.dumps(
            {
                "epochs_seen": stats.epochs_seen,
                "batches_applied": stats.batches_applied,
                "batches_skipped": stats.batches_skipped,
                "table_version": table.manifest().version,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
