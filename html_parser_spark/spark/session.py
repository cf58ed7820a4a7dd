"""SparkSession factory with scale-oriented defaults.

Settings rationale (SURVEY.md §4.2, pyspark_guide):
  - AQE on: post-shuffle coalescing + skew-join splitting backstop the
    explicit salting we do for conversation-level aggregations.
  - Arrow on: the parse kernel crosses JVM<->Python once per record
    batch, not per row.
  - maxRecordsPerBatch bounded: parse cost is O(bytes); keeping batches
    ~2k rows bounds Python-side memory for mega-documents.
  - shuffle.partitions default sized for local[32]; at cluster scale
    AQE coalesces, and callers override via env.
"""

from __future__ import annotations

import os
from collections import namedtuple
from contextlib import contextmanager

from pyspark.sql import SparkSession

# one SQL execution: its description (the action's call site, e.g.
# "collect at ..."), the operator names of its final physical plan
# (adaptive re-planning applied), that plan as formatted text and the
# ids of the Spark jobs it ran
Execution = namedtuple("Execution", "description nodes plan jobs")


def get_spark(app_name: str = "html_parser_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local-mode driver == executor: on this 128 GiB host an 8g
        # heap GC-thrashes the explode-heavy stages (observed as
        # ~190% same-query spread in bench best-of-3 runs); 16g keeps
        # full-materialization runs out of the collector's teeth
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


@contextmanager
def recorded_executions(spark: SparkSession):
    """Record the SQL executions run inside the block: yields a list
    that, on exit, holds one `Execution` per execution, in order. Read
    from Spark's SQL status store, which works with the UI disabled."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    before = max((e.executionId() for e in executions()), default=-1)
    out = []
    yield out
    for e in sorted((e for e in executions() if e.executionId() > before),
                    key=lambda e: e.executionId()):
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        names = []
        while nodes.hasNext():
            names.append(nodes.next().name().strip())
        jobs = e.jobs().keys().iterator()
        job_ids = set()
        while jobs.hasNext():
            job_ids.add(jobs.next())
        out.append(Execution(e.description(), names,
                             e.physicalPlanDescription(), job_ids))
