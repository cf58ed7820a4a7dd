"""Per-layer numbers from Spark's own SQL metrics.

The frame's QueryExecution reads zeros after a noop or file write, so
the numbers come from the SQL status store of the executions that
actually ran: ``statusStore.executionsList`` for the execution ids and
walls, ``planGraph`` for the operator nodes (after adaptive
re-planning) and ``executionMetrics`` for the accumulated values. The
status store is filled by the listener bus, which this module drains
before reading, and works with ``spark.ui.enabled=false``.

Values arrive as display strings: ``"64"``, ``"1,234"``, ``"61 ms"``,
``"1.6 s"``, ``"5.4 MiB"``, or, for metrics with per-task values,
``"total (min, med, max (stageId: taskId))\\n1.6 s (373 ms, 394 ms,
410 ms (stage 2.0: task 7))"``. ``parse_value`` turns each into numbers
(seconds, bytes or counts).
"""

from __future__ import annotations

import re
import time

_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
               "GiB": 2.0 ** 30, "TiB": 2.0 ** 40, "PiB": 2.0 ** 50,
               "EiB": 2.0 ** 60}
_QUANTITY = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def _quantity(text: str) -> float:
    m = _QUANTITY.fullmatch(text.strip())
    if m is None:
        raise ValueError(f"not a metric quantity: {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    scale = _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit))
    if scale is None:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return number * scale


def parse_value(text: str) -> dict:
    """Display string -> {"total", "min", "med", "max"} in seconds,
    bytes or counts. A single-valued string sets all four to it; the
    per-task form without a total (average metrics) sets total to the
    median."""
    text = text.strip()
    if "\n" not in text:
        v = _quantity(text)
        return {"total": v, "min": v, "med": v, "max": v}
    head, body = text.split("\n", 1)
    # "1.6 s (373 ms, 394 ms, 410 ms (stage 2.0: task 7))", or with no
    # total: "(1, 1, 1 (stage 34.0: task 196))"
    total, rest = body.split("(", 1)
    lo, med, hi = (_quantity(p)
                   for p in rest.split(" (stage", 1)[0].split(","))
    total = _quantity(total) if head.startswith("total") else med
    return {"total": total, "min": lo, "med": med, "max": hi}


def drain_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Wait until every queued listener event (execution end, metric
    updates) has reached the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _status_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    ids = [e.executionId() for e in _iter(_status_store(spark)
                                          .executionsList())]
    return max(ids, default=-1)


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _finished_executions(store, after_id: int, timeout_s: float):
    """The executions after after_id, once each has its completion time
    (the status store records the end, and aggregates the metrics,
    asynchronously after the listener event)."""
    deadline = time.monotonic() + timeout_s
    while True:
        execs = [e for e in _iter(store.executionsList())
                 if e.executionId() > after_id]
        if (all(e.completionTime().isDefined() for e in execs)
                or time.monotonic() > deadline):
            return execs
        time.sleep(0.02)


def executions_since(spark, after_id: int, timeout_s: float = 10.0) -> list:
    """Executions with id > after_id, each as {id, description, start_ms,
    end_ms, nodes: [{name, metrics: {name: display string}}]}; end_ms is
    None for one still unfinished after timeout_s."""
    drain_listener_bus(spark)
    store = _status_store(spark)
    out = []
    for e in _finished_executions(store, after_id, timeout_s):
        eid = e.executionId()
        end = e.completionTime()
        values = store.executionMetrics(eid)
        nodes = []
        for node in _iter(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            nodes.append({"name": node.name().strip(), "metrics": metrics})
        out.append({
            "id": eid,
            "description": e.description(),
            "start_ms": e.submissionTime(),
            "end_ms": end.get().getTime() if end.isDefined() else None,
            "nodes": nodes,
        })
    return sorted(out, key=lambda x: x["id"])


def node_total(executions: list, prefix: str, metric: str) -> float:
    """Sum of one metric over the plan nodes whose name starts with
    prefix, e.g. ("MapInArrow", "number of output rows")."""
    return sum(parse_value(node["metrics"][metric])["total"]
               for ex in executions for node in ex["nodes"]
               if node["name"].startswith(prefix)
               and metric in node["metrics"])


# (layer metric, plan node name prefix, Spark metric name, statistic)
_NODE_METRICS = [
    ("arrow.python_run_s", "MapInArrow", "time to run Python workers",
     "total"),
    ("arrow.python_boot_s", "MapInArrow", "time to start Python workers",
     "total"),
    ("arrow.python_init_s", "MapInArrow",
     "time to initialize Python workers", "total"),
    ("arrow.bytes_to_python", "MapInArrow", "data sent to Python workers",
     "total"),
    ("arrow.bytes_from_python", "MapInArrow",
     "data returned from Python workers", "total"),
    ("scan.time_s", "Scan parquet", "scan time", "total"),
    ("scan.bytes", "Scan parquet", "size of files read", "total"),
    ("exchange.bytes", "Exchange", "data size", "total"),
    ("exchange.write_s", "Exchange", "shuffle write time", "total"),
    ("sort.time_s", "Sort", "sort time", "total"),
    ("sort.spill_bytes", "Sort", "spill size", "total"),
    ("write.files", "Execute InsertIntoHadoopFsRelationCommand",
     "number of written files", "total"),
    ("write.bytes", "Execute InsertIntoHadoopFsRelationCommand",
     "written output", "total"),
    ("write.commit_s", "Execute InsertIntoHadoopFsRelationCommand",
     "job commit time", "total"),
    ("write.commit_s", "Execute InsertIntoHadoopFsRelationCommand",
     "task commit time", "total"),
]

LAYER_METRICS = sorted({m[0] for m in _NODE_METRICS}) + [
    "arrow.task_run_max_over_med", "exec.count", "exec.kernel_s",
    "exec.other_s",
]


def layer_metrics(executions: list) -> dict:
    """Sum the operator metrics of one job run's executions into the
    benchmark's layer names. exec.kernel_s is the wall of the
    executions whose plan runs the Arrow kernel (MapInArrow);
    exec.other_s the wall of every other execution of the run."""
    out = {name: 0.0 for name in LAYER_METRICS}
    skew = []
    for ex in executions:
        runs_kernel = False
        for node in ex["nodes"]:
            if node["name"].startswith("MapInArrow"):
                runs_kernel = True
                run = node["metrics"].get("time to run Python workers")
                run = parse_value(run) if run else None
                if run and run["med"] > 0:
                    skew.append(run["max"] / run["med"])
            for name, prefix, spark_name, stat in _NODE_METRICS:
                if node["name"].startswith(prefix):
                    v = node["metrics"].get(spark_name)
                    if v is not None:
                        out[name] += parse_value(v)[stat]
        if ex["end_ms"] is not None:
            wall = (ex["end_ms"] - ex["start_ms"]) / 1000.0
            out["exec.kernel_s" if runs_kernel else "exec.other_s"] += wall
        out["exec.count"] += 1
    out["arrow.task_run_max_over_med"] = max(skew, default=0.0)
    return out
