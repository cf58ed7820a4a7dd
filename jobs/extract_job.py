#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline.

Usage:
  spark-submit --py-files dist/html_parser_spark.zip jobs/extract_job.py \
      --input  /path/to/transcripts_parquet \
      --output /path/to/out \
      --checkpoint /path/to/ckpt \
      [--mode fragment] [--context div] [--boilerplate] [--buckets 64]

The job is resumable: re-running after a failure reads the done partition
keys from the checkpoint manifest and filters them out before the parse,
so only missing partitions are processed
(html_parser_spark/spark/checkpoint.py). Per-partition metrics land in
<checkpoint>/manifest.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", default="fragment",
                    choices=("fragment", "document"))
    ap.add_argument("--context", default="div")
    ap.add_argument("--boilerplate", action="store_true")
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("html-extract").getOrCreate()

    # imported from the --py-files zip (or the repo on sys.path);
    # single source of truth for the resumable write + partition-pruned
    # manifest (checkpoint.run_with_checkpoint)
    from html_parser_spark.spark.checkpoint import run_with_checkpoint

    t0 = time.time()
    transcripts = spark.read.parquet(args.input)
    out_path = run_with_checkpoint(
        spark, transcripts, args.output, args.checkpoint,
        buckets=args.buckets, mode=args.mode, context=args.context,
        boilerplate=args.boilerplate,
    )
    n = spark.read.parquet(out_path).count()
    print(json.dumps({
        "job": "html-extract",
        "rows": n,
        "seconds": round(time.time() - t0, 2),
        "output": out_path,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
