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
  - file:// writes chmod inside the JVM: without libhadoop, Hadoop's
    local file system forks a `chmod` for every file, `.crc` file and
    directory it creates (about 200 per checkpointed chat job run).
    InProcessChmodLocalFileSystem.java sets the same bits through
    java.nio and keeps the checksums. Only when this call launches the
    JVM with a local[...] master and `javac` can build the jar: on a
    cluster the tables live on the cluster's file system and the
    executors would not have the class.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import tempfile
import zipfile
from collections import namedtuple
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from ..buildcache import cached_build

# one SQL execution: its description (the action's call site, e.g.
# "collect at ..."), the operator names of its final physical plan
# (adaptive re-planning applied), that plan as formatted text and the
# ids of the Spark jobs it ran
Execution = namedtuple("Execution", "description nodes plan jobs")


LOCAL_FS_CLASS = "html_parser_spark.spark.InProcessChmodLocalFileSystem"
_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "InProcessChmodLocalFileSystem.java")


def local_fs_jar() -> str | None:
    """The jar of LOCAL_FS_CLASS, compiled with `javac` against the
    Hadoop client API that Spark ships and cached by the hash of the
    source and that jar's name; None without `javac` or that jar."""
    javac = shutil.which("javac")
    hadoop = sorted(glob.glob(os.path.join(
        _find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not hadoop:
        return None
    with open(_LOCAL_FS_SOURCE, "rb") as f:
        key = f.read() + b"\0" + os.path.basename(hadoop[-1]).encode()

    def compile_to(tmp_jar: str) -> bool:
        with tempfile.TemporaryDirectory() as classes:
            if subprocess.run(
                    [javac, "--release", "17", "-cp", hadoop[-1],
                     "-d", classes, _LOCAL_FS_SOURCE],
                    capture_output=True, timeout=120).returncode != 0:
                return False
            with zipfile.ZipFile(tmp_jar, "w") as jar:
                for path in sorted(glob.glob(os.path.join(
                        classes, "**", "*.class"), recursive=True)):
                    jar.write(path, os.path.relpath(path, classes))
        return True

    return cached_build("hp_localfs", ".jar", key, compile_to)


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
    # the class path is fixed when the JVM starts: only a session that
    # launches it can add the jar. Under spark-submit the JVM is already
    # up (PYSPARK_GATEWAY_PORT names it) before any gateway is set here
    launches_jvm = (SparkContext._gateway is None
                    and "PYSPARK_GATEWAY_PORT" not in os.environ)
    if launches_jvm and master.split("[")[0] == "local":
        jar = local_fs_jar()
        if jar is not None:
            builder = (builder
                       .config("spark.driver.extraClassPath", jar)
                       .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS))
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
