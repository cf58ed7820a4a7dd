#!/usr/bin/env python3
"""Benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload chat_job --seed 1 --seconds 15 \
        --trace 0

Runs from the root of a checkout of this repository and touches nothing
outside it: inputs, Spark scratch, the compiled fast scan and the
traces all go under ``perfbench/.work/``.

One invocation, in a single process at ``local[N]`` with N = the CPUs
this process may run on:

  1. generates the workload's input from --seed (or reuses the cached
     parquet) and verifies its content digest;
  2. set-up: starts Spark through ``session.get_spark`` and runs the job
     once cold. ``setup_s`` is the time from process start to the end
     of that run, less the input step;
  3. warm-up: runs the job a fixed number of times (the workload's
     ``warmup_runs``), untimed, while ``peak_rss_mb`` is sampled: the
     JIT has then compiled most of the hot paths, and the memory peak
     covers the same work on every machine;
  4. runs the job again and again, one at a time (closed loop), until
     --seconds have passed and at least MIN_TIMED_RUNS have run;
     ``job_s`` is the median over these runs of the wall time less the
     share of it the host stole (see ``unstolen_wall``);
  5. checks the output of the job against direct ``udfs.parse_turn``
     calls (see workloads.py);
  6. prints one JSON line of run details, then the result line.

With --trace 0 the result holds the end-to-end metrics. With --trace 1
each timed run is followed by a read of Spark's SQL metrics for the
executions it ran (sparkmetrics.py), the worker batch function is
replayed in one thread with the kernel's layers timed (replay.py), the
result holds the per-layer metrics, and the spans are written to
``perfbench/.work/traces/``. ``trace.overhead_s`` is the time a traced
run spends on tracing after its job has returned (median per run); the
untraced invocation does none of it.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DIGESTS = os.path.join(HERE, "digests.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

RECORDED_ENV_PREFIXES = ("HP_FASTSCAN", "HP_PARSE_CACHE", "SPARK_GRAFT_")
JVM_HEAP = "2g"
MIN_TIMED_RUNS = 3


def fail(msg: str, code: int):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def configure_env(cpus: int) -> dict:
    """Point every scratch location of Spark, the JVM and the fast-scan
    build into the work directory; returns the recorded settings as
    found before the benchmark changed anything."""
    found = {k: v for k, v in sorted(os.environ.items())
             if k.startswith(RECORDED_ENV_PREFIXES)}
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)  # local[N] below, always
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.py sizes shuffle partitions for local[32] and takes the
    # override from this variable; size them to the cores in use
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus)
    # a fixed, pre-touched heap: the JVM's resident size is then the same
    # from run to run, and peak_rss_mb moves with what the program
    # itself holds (Python workers, off-heap buffers), not with how far
    # the collector chose to grow a 16 GB heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                    "-XX:-UsePerfData") if p)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(WORK, "warehouse")),
        "--driver-java-options", shlex.quote(
            f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData"),
        "pyspark-shell",
    ])
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark, started_pids) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the Python daemon and workers) has exited."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits at end of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started_pids):
        if time.monotonic() > deadline:
            for p in started_pids:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def env_record(spark) -> dict:
    import pyarrow
    import pyspark

    conf = spark.conf
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "maxRecordsPerBatch": conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_ticks():
    """(steal, busy) clock ticks of all CPUs since boot: busy is time
    spent running anything, steal the time the hypervisor ran something
    else while a CPU had work to do."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq


def unstolen_wall(wall: float, ticks0, ticks1) -> tuple:
    """(wall less the stolen share, stolen share) of one run.

    On a shared host the hypervisor takes CPUs away from this machine in
    episodes that last a minute or more; a job then runs slower by the
    share of the CPU time it wanted that was stolen, steal / (busy +
    steal) over the run. Removing that share keeps a run's time a
    property of the program rather than of the neighbours."""
    steal = ticks1[0] - ticks0[0]
    busy = ticks1[1] - ticks0[1]
    share = steal / max(1, steal + busy)
    return wall * (1.0 - share), share


def measure(spark, job, tracer, mem, seconds: float, trace: bool):
    """The warm-up runs with memory sampling, then timed runs until
    `seconds` have passed. With trace, each timed run then reads
    Spark's SQL metrics of the executions it ran. Returns (per timed
    run: wall, wall less the stolen share, stolen share; tracing seconds
    per run; per-run layer metrics; the executions of the last run)."""
    import sparkmetrics

    with mem.window():
        for i in range(1, job.warmup_runs + 1):
            job.discard_previous(i)
            with tracer.span("job.warmup"):
                job.run(i)
    i = job.warmup_runs
    runs, trace_costs, layers = [], [], []
    deadline = time.perf_counter() + seconds
    while True:
        i += 1
        job.discard_previous(i)
        before = sparkmetrics.last_execution_id(spark)
        with tracer.span("job.timed") as run_span:
            ticks0 = cpu_ticks()
            t = time.perf_counter()
            job.run(i)
            wall = time.perf_counter() - t
            runs.append((wall,) + unstolen_wall(wall, ticks0, cpu_ticks()))
            if trace:
                t = time.perf_counter()
                execs = sparkmetrics.executions_since(spark, before)
                layers.append(sparkmetrics.layer_metrics(execs))
                for ex in execs:
                    if ex["end_ms"] is not None:
                        tracer.add(
                            f"spark.execution {ex['description']}",
                            ex["start_ms"] / 1e3 - tracer.epoch0,
                            ex["end_ms"] / 1e3 - tracer.epoch0,
                            run_span)
                trace_costs.append(time.perf_counter() - t)
        if (time.perf_counter() >= deadline
                and len(runs) >= MIN_TIMED_RUNS):
            break
    return (runs, trace_costs, layers,
            sparkmetrics.executions_since(spark, before))


def run_spark(job_cls, info, tracer, seconds: float, trace: bool):
    """Set-up (session start and cold run), the warm-up and timed runs and
    the output check, in one Spark session that is stopped, with every
    process it started, before returning."""
    import memsample
    from html_parser_spark.spark.session import get_spark

    out = {}
    with memsample.RssSampler() as mem:
        with tracer.span("session.start"):
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{job_cls.name}")
            out["session_s"] = time.perf_counter() - t
        me = os.getpid()
        started = [p for p in memsample.tree_pids(me) if p != me]
        try:
            spark.sparkContext.setLogLevel("ERROR")
            job = job_cls(spark, info, WORK)
            with tracer.span("job.cold"):
                job.run(0)
            out["setup_end"] = time.perf_counter()
            (out["runs"], out["trace_costs"], out["layer_runs"],
             last_execs) = measure(spark, job, tracer, mem, seconds, trace)
            t = time.perf_counter()
            with tracer.span("check"):
                out["attempted"], out["failed"], out["output_digest"] = (
                    job.check(last_execs))
            out["check_s"] = time.perf_counter() - t
            out["env"] = env_record(spark)
            out["input_partitions"] = spark.read.parquet(
                info["path"]).rdd.getNumPartitions()
            started = [p for p in memsample.tree_pids(me) if p != me]
        finally:
            stop_spark(spark, started)
    out["job"] = job
    out["peak_rss_mb"], out["rss_samples"] = mem.peak_mb, mem.samples
    out["peak_rss_by_command"] = mem.peak_by_command
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "html_parser_spark")):
        fail(f"no html_parser_spark package under {ROOT}: run from a "
             "checkout of the repository", 2)
    cpus = len(os.sched_getaffinity(0))
    found_env = configure_env(cpus)
    sys.path[:0] = [ROOT, HERE]

    import inputs
    import tracing
    import workloads
    from html_parser_spark.kernel import fastscan

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from "
             f"{sorted(workloads.WORKLOADS)}", 2)
    if fastscan._load() is None:
        fail("the C fast scan did not load (fastscan._load() is None): "
             "the kernel would fall back to the Python tokenizer and the "
             "numbers would not be comparable", 3)

    t = time.perf_counter()
    try:
        info = inputs.materialize(WORK, DIGESTS, args.workload, args.seed)
    except inputs.InputDigestError as e:
        fail(f"input check failed, no numbers reported: {e}", 4)
    input_s = time.perf_counter() - t

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = tracing.Tracer(args.workload, run_id)
    tracer.add("input", t - tracer.t0, t + input_s - tracer.t0)
    r = run_spark(workloads.WORKLOADS[args.workload], info, tracer,
                  args.seconds, bool(args.trace))
    walls, unstolen, stolen = zip(*r["runs"])
    job_s = median(unstolen)
    details = {
        "workload": args.workload, "seed": args.seed,
        "input_digest": info["digest"],
        "input_digest_recorded": info["recorded"],
        "input_rows": len(info["rows"]), "input_text_mb": info["text_mb"],
        "output_digest": r["output_digest"],
        "env": dict(r["env"], cpus_usable=cpus, env=found_env),
        "input_partitions": r["input_partitions"],
        "samples": {"setup_s": 1, "warmup_runs": r["job"].warmup_runs,
                    "job_s": len(walls),
                    "peak_rss_mb": r["rss_samples"]},
        "timed_walls_s": walls,
        "timed_stolen_share": stolen,
        "median_wall_s": median(walls),
        "peak_rss_mb_by_command": r["peak_rss_by_command"],
        "phases_s": {"input_s": input_s, "check_s": r["check_s"]},
    }
    if args.trace:
        import replay

        job = r["job"]
        t = time.perf_counter()
        rep = replay.KernelReplay(tracer, job.mode, "div", job.boilerplate)
        layer = rep.run(inputs.to_table(job.replay_rows()),
                        r["input_partitions"])
        details["phases_s"]["replay_s"] = time.perf_counter() - t
        layer["session.start_s"] = r["session_s"]
        for name in r["layer_runs"][0]:
            layer[name] = median([x[name] for x in r["layer_runs"]])
        layer["kernel.fastscan_loaded"] = 1
        layer["trace.overhead_s"] = median(r["trace_costs"])
        details["samples"]["layer_runs"] = len(r["layer_runs"])
        spans_path = os.path.join(WORK, "traces", f"{run_id}.json")
        tracer.write(spans_path)
        details["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        layer = {"setup_s": r["setup_end"] - T_START - input_s,
                 "job_s": job_s, "mb_per_s": info["text_mb"] / job_s,
                 "peak_rss_mb": r["peak_rss_mb"]}
    with open(SPEC) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in layer]
    if missing:
        fail(f"metrics not measured: {missing}", 5)
    metrics = {m["name"]: {"value": float(layer[m["name"]]),
                           "unit": m["unit"]} for m in spec}
    details["phases_s"]["total_s"] = time.perf_counter() - T_START
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": r["failed"] == 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
