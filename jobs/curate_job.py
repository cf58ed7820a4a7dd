#!/usr/bin/env python3
"""spark-submit entry point for the corpus-curation pipeline.

Usage:
  spark-submit --py-files dist/html_parser_spark.zip jobs/curate_job.py \
      --input  /path/to/documents_parquet \
      --output /path/to/curated_out \
      [--quality-min 0.55] [--jaccard 0.8] [--target-file-mb 128]

Runs the full curation composition (quality gate -> exact dedup ->
LSH-verified near-dup strip with transitive cluster closure,
html_parser_spark/spark/ops.curate_corpus), writes:

  <output>/kept/        surviving (doc_id, source, lang), compacted to
                        ~target-file-mb files
  <output>/clusters/    near-dup provenance (doc_id, cluster_root):
                        the EXACT component frame the drop rule
                        consumed (over the gated+deduped corpus)
  <output>/stats.json   row counts per stage (driver-side, tiny)
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--quality-min", type=float, default=0.55)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--target-file-mb", type=int, default=128)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("corpus-curate").getOrCreate()

    from html_parser_spark.spark.ops import curate_corpus
    from html_parser_spark.spark.storage import compact_parquet

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    # return_clusters: provenance is the SAME component frame the drop
    # rule consumed — recomputing dup_components over the raw input
    # would double the dominant stage and report roots the rule never
    # saw (quality-failed / exact-dup members)
    kept, clusters = curate_corpus(docs, quality_min=args.quality_min,
                                   jaccard_threshold=args.jaccard,
                                   return_clusters=True)
    kept_tmp = os.path.join(args.output, "_kept_raw")
    kept.write.mode("overwrite").parquet(kept_tmp)
    kept_path = os.path.join(args.output, "kept")
    compact_parquet(spark, kept_tmp, kept_path,
                    target_file_mb=args.target_file_mb)
    # drop the pre-compaction staging dir via the Hadoop FS (works on
    # object stores too, unlike a driver-side shutil.rmtree)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(kept_tmp)
    tmp.getFileSystem(spark._jsc.hadoopConfiguration()).delete(tmp, True)

    clusters_path = os.path.join(args.output, "clusters")
    clusters.write.mode("overwrite").parquet(clusters_path)

    n_kept = spark.read.parquet(kept_path).count()
    n_clustered = spark.read.parquet(clusters_path).count()
    stats = {
        "input_docs": n_in,
        "kept_docs": n_kept,
        "dropped_docs": n_in - n_kept,
        "docs_in_dup_clusters": n_clustered,
        "wall_seconds": round(time.time() - t0, 2),
    }
    # Hadoop FS write (not builtin open): --output may be an
    # object-store/HDFS URI, same reasoning as the staging-dir delete
    stats_path = jvm.org.apache.hadoop.fs.Path(
        os.path.join(args.output, "stats.json"))
    sfs = stats_path.getFileSystem(spark._jsc.hadoopConfiguration())
    out = sfs.create(stats_path, True)
    try:
        out.write(bytearray(json.dumps(stats).encode()))
    finally:
        # always release the stream: an unclosed HDFS lease would
        # block the next run's create on this path
        out.close()
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
