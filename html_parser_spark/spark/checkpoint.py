"""Partition-level checkpoint manifest + idempotent resume.

North-rule requirement: "checkpointed per Iceberg partition with
lineage and per-partition extraction metrics so the pipeline resumes
idempotently after failure."

Local realization (no Iceberg catalog in this sandbox, same mechanics):
  - work is keyed by a PARTITION KEY column (e.g. bucket of conv_id);
  - each completed partition writes a manifest row
    (part_key, turns, parse_errors, extracted_chars, conversations,
    status=done), computed from a read-back of the written files. That
    read-back lists its at most `buckets` part_key directories
    serially on the driver (no Spark listing job), and `conversations`
    counts the rows with turn_rank = 1 and a non-NULL conv_id (the
    window already ranked each conversation), so the manifest
    aggregate has one Exchange and no distinct count;
  - resume = a driver-side done-key filter: the manifest holds at most
    `buckets` keys, so they are read into a Python list and pending
    rows are kept with `NOT part_key IN (done)` ahead of the kernel —
    no join, no shuffle of the raw input; a missing manifest (a fresh
    run) is found by a filesystem `exists` check, not a failed read;
  - the job's ONE exchange is aligned with the partition key: rows are
    hash-partitioned by part_key, and the turn_rank window runs over
    (part_key, conv_id) on that partitioning, so its sort also serves
    the partitioned writer (one file per part_key);
  - output written partitioned by part_key -> a re-run overwrites a
    partition atomically (dynamic partition overwrite), making resume
    idempotent rather than duplicating.

Mapping onto a real Iceberg catalog (what each piece becomes):
  - the part_key-partitioned parquet dir -> an Iceberg table
    partitioned by `bucket(conv_id, N)`; `partitionOverwriteMode=
    dynamic` -> `INSERT OVERWRITE` / `replaceWhere` on that partition
    spec, which Iceberg commits atomically per snapshot, so a re-run
    of a partition is a metadata-level swap, never a partial state;
  - the part_key repartition ahead of the window ->
    `write.distribution-mode=hash` on that spec: Iceberg asks Spark to
    cluster rows by the partition transform before the write, so each
    write task owns whole partitions and writes one file per
    partition it owns;
  - the manifest parquet -> either Iceberg's own snapshot/manifest
    metadata (partition-level stats come free) or a small side table
    written in the SAME transaction via multi-table commit; the
    done-key read then sees committed snapshots only, so a crash
    between data write and manifest append cannot mark an incomplete
    partition done (Iceberg's commit is the atomicity boundary; in
    the parquet realization the manifest append IS the commit point,
    and re-running a crashed partition merely overwrites it);
  - the partition-pruned metric read-back -> a snapshot-scoped scan
    (`VERSION AS OF` the just-committed snapshot) with partition
    predicates, which Iceberg serves from manifest metadata without
    listing the table.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _part_key(buckets: int) -> Column:
    return (F.abs(F.xxhash64("conv_id")) % buckets).cast("int")


def with_part_key(df: DataFrame, buckets: int = 64) -> DataFrame:
    """Stable partition key: hash-bucket of conv_id. All turns of one
    conversation land in one bucket (lineage unit)."""
    return df.withColumn("part_key", _part_key(buckets))


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def done_keys(spark, checkpoint_dir: str) -> list[int]:
    """The part_keys the manifest marks done, sorted. A missing
    manifest means nothing is done yet: that is a filesystem `exists`
    check, not a failed read. Any read failure of an existing manifest
    (a corrupt or unreadable one) raises rather than silently
    re-running and re-marking every partition."""
    path = manifest_path(checkpoint_dir)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not jpath.getFileSystem(hadoop_conf).exists(jpath):
        return []
    rows = (spark.read.schema("part_key int, status string").parquet(path)
            .where(F.col("status") == "done")
            .select("part_key").distinct().collect())
    return sorted(r.part_key for r in rows)


def write_manifest(extracted_with_key: DataFrame, spark,
                   checkpoint_dir: str) -> None:
    """Append per-partition metrics + done markers (lineage record).
    Reads the precomputed `n_chars` column so the metric scan never
    has to materialize the (wide) extracted_text column, and counts
    conversations as rank-1 rows (`turn_rank` = 1 with a non-NULL
    conv_id, what `countDistinct("conv_id")` would count) so the
    aggregate needs one Exchange, not two."""
    metrics = (
        extracted_with_key.groupBy("part_key")
        .agg(
            F.count("*").alias("turns"),
            F.sum("parse_errors").alias("parse_errors"),
            F.sum("n_chars").alias("extracted_chars"),
            F.count(F.when(F.col("turn_rank") == 1, F.col("conv_id")))
            .alias("conversations"),
        )
        .withColumn("status", F.lit("done"))
    )
    metrics.write.mode("append").parquet(manifest_path(checkpoint_dir))


def run_with_checkpoint(spark, transcripts: DataFrame, out_dir: str,
                        checkpoint_dir: str, buckets: int = 64,
                        mode: str = "fragment", context: str = "div",
                        boilerplate: bool = False):
    """End-to-end resumable extraction: done-key filter -> extract ->
    rank and write partitioned by part_key -> manifest append.

    Resume contract: every run gets the same input. The done keys are
    read on the driver and filter the input before the kernel, so a
    re-run only parses the partitions no earlier run committed; when
    every key is done the run does nothing. The rows are shuffled once,
    hash-partitioned by part_key (Iceberg's hash distribution for a
    `bucket(conv_id, N)` spec): the turn_rank window over (part_key,
    conv_id) sorts by (part_key, conv_id, turn_idx), which already
    gives the writer its part_key order, so there is no second sort
    and each write task writes one file per part_key it owns."""
    from .pipeline import extract_turns, with_turn_rank

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out_path = os.path.join(out_dir, "extracted")
    done = done_keys(spark, checkpoint_dir)
    if set(range(buckets)) <= set(done):
        return out_path
    todo = transcripts
    if done:
        todo = todo.where(~_part_key(buckets).isin(done))
    extracted = with_part_key(
        extract_turns(todo, mode, context, ordered=False,
                      boilerplate=boilerplate), buckets)
    ranked = with_turn_rank(extracted.repartition("part_key"), "part_key")
    ranked = ranked.withColumn(
        "n_chars", F.length("extracted_text").cast("bigint"))
    ranked.write.mode("overwrite").partitionBy("part_key").parquet(out_path)
    # Manifest metrics come from THIS run's committed files only: under
    # the resume contract the partitions not yet done are exactly the
    # ones this run wrote, so the read-back is partition-pruned to them
    # and column-pruned to the small metric columns (n_chars precomputed
    # at write time so extracted_text is never re-read). Never a full
    # scan of the cumulative output, and no second run of the kernel.
    # The schema is given, so a run that wrote nothing reads no rows.
    # The read lists at most `buckets` part_key directories: the
    # driver lists them serially rather than launching a listing job
    # (only for this read; the session keeps its own threshold).
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, str(max(int(threshold), buckets)))
    try:
        written = spark.read.schema(
            "conv_id string, turn_rank int, parse_errors int, "
            "n_chars bigint, part_key int").parquet(out_path)
    finally:
        spark.conf.set(key, threshold)
    if done:
        written = written.where(~F.col("part_key").isin(done))
    write_manifest(written, spark, checkpoint_dir)
    return out_path
