"""spark-submit entry point for the batch pipeline.

Usage (local or cluster — the package ships via --py-files):

    python scripts/package.py                      # builds dist/semconv_spark.zip
    spark-submit --py-files dist/semconv_spark.zip \
        jobs/run_pipeline.py --input <pages parquet/iceberg path> \
        --output <sink base path> [--rows N] [--checkpoint] [--chunks 16]

With --rows and no --input, a deterministic synthetic pages table is
generated (smoke/bench mode).  --checkpoint switches to the resumable
per-chunk runner (plans/checkpoint.py); its chunks are groups of input
files, so it needs --input.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--rows", type=int, default=100_000)
    p.add_argument("--mode", choices=["enforce", "enrich"], default="enforce")
    p.add_argument("--checkpoint", action="store_true")
    p.add_argument("--chunks", type=int, default=16)
    p.add_argument("--run-id", default=f"run-{int(time.time())}")
    args = p.parse_args()
    if args.checkpoint and not args.input:
        p.error("--checkpoint needs --input: checkpoint chunks are input files")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("semconv-pipeline").getOrCreate()

    from otel_semconvprocessor_spark.config import reference_config
    from otel_semconvprocessor_spark.plans.checkpoint import run_with_checkpoints
    from otel_semconvprocessor_spark.plans.pipeline import run_pipeline
    from otel_semconvprocessor_spark.sources.pages import generate_pages

    cfg = reference_config(mode=args.mode)
    if args.checkpoint:
        done = run_with_checkpoints(
            spark, args.input, args.output, cfg, n_chunks=args.chunks, run_id=args.run_id
        )
        print(json.dumps({"run_id": args.run_id, "chunks_processed": done}))
    else:
        pages = (
            spark.read.parquet(args.input) if args.input else generate_pages(spark, args.rows)
        )
        res = run_pipeline(spark, pages, args.output, cfg, run_id=args.run_id)
        print(
            json.dumps(
                {
                    "run_id": args.run_id,
                    "rows": res.rows,
                    "wall_sec": round(res.duration_sec, 3),
                    "sink_path": res.sink_path,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
