"""Table layout helpers: small-file compaction and the two read-path
layouts that let a scan skip data.

- `compact_parquet` rewrites a many-small-files table into files of
  about `target_file_mb` (`jobs/curate_job.py`).
- `partitioned_events_path` lays the events table out in
  `event_date=YYYY-MM-DD/` directories, so a date-bounded query prunes
  whole directories at plan time (the `events_pruned_window` query;
  `test_partition_pruned_scan`).
- `zorder_layout`/`write_zordered` cluster files by a Morton key over
  two dimensions, so footer min/max stats skip files for 2-D box
  predicates (the `zorder_events` query;
  `test_zorder_layout_skips_files_for_box_queries`).

The extraction job's checkpointed, part_key-partitioned write lives in
checkpoint.py; every other job writes with a plain `df.write`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compact_parquet(spark, input_path: str, output_path: str,
                    target_file_mb: int = 128) -> int:
    """Small-file compaction — the OPTIMIZE / Iceberg
    rewrite_data_files maintenance operator. A 100 TB table ingested
    by many tasks (or streaming micro-batches) accumulates thousands
    of KB-scale files; every downstream scan then pays per-file open/
    footer costs and the scheduler pays per-split overhead. This
    rewrites the dataset into ceil(total_bytes / target) files of
    roughly `target_file_mb` each.

    Sizing comes from the FILE METADATA the reader already collected
    (InMemoryFileIndex via the JVM Hadoop FS — no data read, and no
    driver-side os.walk that would break on object stores). The
    rewrite is one scan + one round-robin repartition + one write;
    row content is preserved exactly (count-checked by the caller's
    tests). Returns the number of output partitions."""
    import math

    df = spark.read.parquet(input_path)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(input_path)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(output_path)
    return n_files


def partitioned_events_path(spark, sf_dir: str) -> str:
    """Materialize (once per sf_dir) the events table laid out with
    days(ts)-style directory partitioning — `event_date=YYYY-MM-DD/`
    keys — and return its path.

    This is the 100 TB read-path layout: an event log is written
    time-partitioned so that every date-bounded query plans a scan
    whose PartitionFilters eliminate whole directories before a single
    parquet footer is opened. The sf tables ship flat, so the
    partitioned copy is built here (deterministic content: a plain
    re-layout of the same rows; the derivation event_date =
    to_date(date_trunc('day', ts)) matches the events_daily query's
    oracle-verified day bucketing). PLANS.md asserts the
    PartitionFilters; test_partition_pruned_scan asserts the scanned
    file set at runtime via input_file_name(). An empty events table
    writes no event_date= directory, so a reader that must accept one
    passes the schema (as the events_pruned_window query does)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    # key the cache by the FULL resolved path, not just the basename:
    # two datasets named sf0.1 in different parents must not share one
    # partitioned copy (review finding — the stale hit would silently
    # aggregate the wrong rows)
    real = os.path.realpath(sf_dir)
    tag = (os.path.basename(real)
           + "_" + hashlib.sha1(real.encode()).hexdigest()[:8])
    path = f"/tmp/spark_graft_part/events_{tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (
            ev.withColumn("event_date",
                          F.to_date(F.date_trunc("day", F.col("ts"))))
            .write.mode("overwrite").partitionBy("event_date")
            .parquet(path)
        )
    return path


# ---------------------------------------------------------------------------
# Z-order layout: data-skipping file clustering
# ---------------------------------------------------------------------------

def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """Bit-interleaved 2-D Morton key as a SQL expression string —
    integer-only (shift/and/multiply/add), valid verbatim in Spark SQL
    AND DuckDB, so the oracle runs the operator's own formula (the
    HLL/bm25 single-sourcing technique). `x`/`y` must already be
    bucketed to [0, 2^bits)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "cast(" + " + ".join(terms) + " as bigint)"


def zorder_layout(df: DataFrame, x: str, y: str,
                  bits: int = 16) -> DataFrame:
    """Append the Morton z-key interleaving two pre-bucketed integer
    dimensions. Sorting/range-partitioning files by this key keeps
    BOTH dimensions locally bounded per file, so per-file min/max
    stats (Iceberg/Delta data skipping, parquet row-group pruning)
    can exclude files for 2-D box predicates — a sort by either
    single column only bounds that column. Pure per-row integer
    expression: no shuffle, no Python, scan-bound at 100 TB (this is
    OPTIMIZE ZORDER BY's kernel)."""
    from pyspark.sql import functions as F
    return df.withColumn("zkey", F.expr(zorder_key_sql(x, y, bits)))


def write_zordered(df: DataFrame, path: str, x: str, y: str,
                   n_files: int = 16, bits: int = 16) -> None:
    """Write `df` as `n_files` z-clustered parquet files: range-
    partition + sort by the Morton key so each file covers a compact
    2-D tile. One range exchange — the same cost as any OPTIMIZE
    rewrite — paid once at layout time; every later box query skips
    files by footer stats."""
    keyed = zorder_layout(df, x, y, bits)
    (
        keyed.repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(path)
    )
