#!/usr/bin/env python3
"""spark-submit entry point for the transcript SFT training-prep DAG.

Usage:
  spark-submit --py-files dist/html_parser_spark.zip jobs/sft_prep_job.py \
      --input  /path/to/transcripts_parquet \
      --output /path/to/sft_out \
      [--budget-tokens 128] [--max-parse-errors 8] \
      [--mode fragment] [--context div] [--shards 64] \
      [--format parquet|jsonl]

Pipeline: extraction kernel (one Arrow stage) -> conversation quality
gate -> context-window trim -> ChatML render (pipeline.sft_corpus; all
stages conv_id-keyed on one partitioning) -> sharded parquet the
trainer's data loader streams. Each stage is independently
oracle-gated via the driver contract (`sft_corpus` and its component
queries in __spark_entry__.py).
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
    ap.add_argument("--budget-tokens", type=int, default=128)
    ap.add_argument("--max-parse-errors", type=int, default=8)
    ap.add_argument("--mode", default="fragment",
                    choices=("fragment", "document"))
    ap.add_argument("--context", default="div")
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--format", default="parquet",
                    choices=("parquet", "jsonl"))
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("sft-prep").getOrCreate()

    from html_parser_spark.spark.pipeline import extract_turns, sft_corpus

    t0 = time.time()
    transcripts = spark.read.parquet(args.input)
    corpus = sft_corpus(
        extract_turns(transcripts, mode=args.mode, context=args.context,
                      ordered=False),
        budget_tokens=args.budget_tokens,
        max_parse_errors=args.max_parse_errors,
    )
    # shard by a conv-stable hash so re-runs land rows in the same
    # shard (repartition(n, col) is hash partitioning, deterministic);
    # jsonl = the newline-delimited training-shard interchange format,
    # parquet = the warehouse form
    sharded = corpus.repartition(args.shards, "conv_id").write.mode(
        "overwrite")
    if args.format == "jsonl":
        sharded.json(args.output)
        n = spark.read.json(args.output).count()
    else:
        sharded.parquet(args.output)
        n = spark.read.parquet(args.output).count()
    print(json.dumps({
        "job": "sft-prep",
        "conversations": n,
        "seconds": round(time.time() - t0, 2),
        "output": args.output,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
