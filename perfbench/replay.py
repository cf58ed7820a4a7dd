"""Single-thread replay of a workload's rows through the worker-side
batch function, with the kernel's public functions timed.

The replay runs ``udfs.make_extract_map_in_arrow`` -- the function
Spark ships to its Python workers -- in the benchmark process on Arrow
batches of the workload's input, split into the same number of
contiguous partitions as the Spark scan, with the worker parse cache
emptied at each partition start as a fresh worker would have it.
While it runs, the module attributes through which the program calls
its layers are wrapped with timers and restored afterwards:

  udfs._parse_turn_cached                 per-row entry (cache hits)
  udfs.fast_extract                       the '<'-free fast path
  api.build_document / api.build_fragment tree build (rescans inside)
  treebuilder._fast_feed = fastscan.make_feed   the C fast scan
  api.extract_text_with_spans, api.count_nodes  extraction
  udfs.strip_boilerplate                  boilerplate scoring
  udfs._spans_array / udfs._str_list_array      Arrow output build

The build call runs the scan inside it, so tree-build self time is
build minus the scan it contains; it is booked to the fast-scan or the
Python-tokenizer column by whether the scan accepted the document.
"""

from __future__ import annotations

import collections
import contextlib
import time

import pyarrow as pa

from html_parser_spark.kernel import api, fastscan, treebuilder
from html_parser_spark.spark import udfs
from html_parser_spark.spark.pipeline import PASSTHROUGH

TRACKED_BAILS = ("raw-tag-after-foreign", "cdata-after-foreign")
BATCH_ROWS = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch


def _percentile_tail(sorted_vals: list):
    """(p50, tail value, tail percentile): the tail is the highest
    percentile with at least ten samples beyond it."""
    n = len(sorted_vals)
    p50 = sorted_vals[(n - 1) // 2]
    if n <= 10:
        return p50, sorted_vals[-1], 100.0
    return p50, sorted_vals[n - 11], 100.0 * (n - 10) / n


class KernelReplay:
    # per-call spans are kept for the first rows only, so a 100k-row
    # replay does not hold and write hundreds of thousands of spans
    SPAN_ROWS = 2000

    def __init__(self, tracer, mode: str, context: str, boilerplate: bool):
        self.tracer = tracer
        self.mode = mode
        self.context = context
        self.boilerplate = boilerplate
        self.secs: collections.Counter = collections.Counter()
        self.counts: collections.Counter = collections.Counter()
        self.latencies: list = []
        self._row = 0
        self._scan_in_build = 0.0
        self._accepted = False
        self._hit = False

    # -- wrappers ---------------------------------------------------
    def _timed(self, name, fn, before=None, after=None):
        tracer = self.tracer
        secs = self.secs
        clock = time.perf_counter

        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args)
            idx = tracer.begin(name) if self._row < self.SPAN_ROWS else None
            t = clock()
            try:
                res = fn(*args, **kwargs)
            finally:
                dt = clock() - t
                if idx is not None:
                    tracer.end(idx)
            secs[name] += dt
            if after is not None:
                after(dt, args, res)
            return res

        return wrapper

    def _after_scan(self, dt, args, feed):
        text, context = args[0], (args[2] if len(args) > 2 else None)
        self._scan_in_build += dt
        self.counts["scan_calls"] += 1
        self.counts["scan_bytes"] += len(text)
        if feed is not None:
            self._accepted = True
            self.counts["docs_accepted"] += 1
            self.counts["accepted_bytes"] += len(text)
            return
        gated = not text or (context and (
            context[:31].lower() in fastscan._NON_DATA_CONTEXTS
            or "<![CDATA[" in text))
        reason = "other" if gated else fastscan.bail_reason()
        self.counts["bail." + (reason if reason in TRACKED_BAILS
                               else "other")] += 1

    def _before_build(self, *_):
        self._scan_in_build = 0.0
        self._accepted = False

    def _after_build(self, dt, args, res):
        self.counts["rows_full_parse"] += 1
        key = "build_fastscan_s" if self._accepted else "build_pytok_s"
        self.secs[key] += dt - self._scan_in_build

    def _after_fast(self, dt, args, res):
        self.counts["rows_fast_path"] += 1

    def _after_nodes(self, dt, args, res):
        self.counts["nodes"] += res

    def _before_cached(self, text, mode, context, boilerplate):
        self.counts["cache_calls"] += 1
        if udfs._CACHE_ON and (text, mode, context,
                               boilerplate) in udfs._PARSE_CACHE:
            self.counts["cache_hits"] += 1
            self._hit = True
        else:
            self._hit = False

    def _after_cached(self, dt, args, res):
        if not self._hit:
            self.latencies.append(dt)
        self._row += 1

    @contextlib.contextmanager
    def _patched(self):
        t = self._timed
        patches = [
            (udfs, "_parse_turn_cached",
             t("udfs.parse_turn_cached", udfs._parse_turn_cached,
               self._before_cached, self._after_cached)),
            (udfs, "fast_extract",
             t("udfs.fast_extract", udfs.fast_extract,
               after=self._after_fast)),
            (udfs, "strip_boilerplate",
             t("kernel.boilerplate.strip", udfs.strip_boilerplate)),
            (udfs, "_spans_array",
             t("udfs.arrow_build", udfs._spans_array)),
            (udfs, "_str_list_array",
             t("udfs.arrow_build", udfs._str_list_array)),
            (treebuilder, "_fast_feed",
             t("kernel.fastscan.scan", treebuilder._fast_feed,
               after=self._after_scan)),
            (api, "build_document",
             t("kernel.treebuilder.build", api.build_document,
               self._before_build, self._after_build)),
            (api, "build_fragment",
             t("kernel.treebuilder.build", api.build_fragment,
               self._before_build, self._after_build)),
            (api, "extract_text_with_spans",
             t("kernel.extract.extract", api.extract_text_with_spans)),
            (api, "count_nodes",
             t("kernel.extract.count_nodes", api.count_nodes,
               after=self._after_nodes)),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
        try:
            for mod, name, fn in patches:
                setattr(mod, name, fn)
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    # -- replay -----------------------------------------------------
    def run(self, table: pa.Table, partitions: int) -> dict:
        """Replay `table` (PASSTHROUGH columns + text) as `partitions`
        contiguous partitions; returns the per-layer metrics."""
        fn = udfs.make_extract_map_in_arrow(
            PASSTHROUGH, self.mode, self.context, self.boilerplate)
        table = table.select(PASSTHROUGH + ["text"])
        n = table.num_rows
        text_bytes = sum(len(t.encode("utf-8", "surrogatepass"))
                         for t in table.column("text").to_pylist()
                         if t is not None)
        wall = 0.0
        rows_out = 0
        with self._patched(), self.tracer.span("replay"):
            for p in range(partitions):
                lo, hi = p * n // partitions, (p + 1) * n // partitions
                batches = table.slice(lo, hi - lo).to_batches(BATCH_ROWS)
                udfs._PARSE_CACHE.clear()  # a fresh worker's cache
                with self.tracer.span("udfs.map_in_arrow"):
                    t = time.perf_counter()
                    for out in fn(iter(batches)):
                        rows_out += out.num_rows
                    wall += time.perf_counter() - t
        udfs._PARSE_CACHE.clear()
        if rows_out != n:
            raise RuntimeError(f"replay returned {rows_out} rows for {n}")
        return self._metrics(wall, text_bytes, n)

    def _metrics(self, wall: float, text_bytes: int, rows: int) -> dict:
        s, c = self.secs, self.counts
        build_total = s["kernel.treebuilder.build"]
        timed = (build_total + s["kernel.extract.extract"]
                 + s["kernel.extract.count_nodes"]
                 + s["kernel.boilerplate.strip"] + s["udfs.fast_extract"]
                 + s["udfs.arrow_build"])
        lat = sorted(self.latencies) or [0.0]
        p50, tail, tail_pct = _percentile_tail(lat)
        out = {
            "udfs.rows_fast_path": c["rows_fast_path"],
            "udfs.rows_full_parse": c["rows_full_parse"],
            "udfs.fast_extract_s": s["udfs.fast_extract"],
            "udfs.arrow_build_s": s["udfs.arrow_build"],
            "udfs.cache_calls": c["cache_calls"],
            "udfs.cache_hit_ratio": c["cache_hits"] / max(c["cache_calls"], 1),
            "kernel.fastscan.scan_s": s["kernel.fastscan.scan"],
            "kernel.fastscan.docs_accepted": c["docs_accepted"],
            "kernel.fastscan.accepted_bytes_ratio":
                c["accepted_bytes"] / max(c["scan_bytes"], 1),
            "kernel.treebuilder.build_fastscan_s": s["build_fastscan_s"],
            "kernel.treebuilder.build_pytok_s": s["build_pytok_s"],
            "kernel.nodes": c["nodes"],
            "kernel.extract.extract_s": s["kernel.extract.extract"],
            "kernel.extract.count_nodes_s": s["kernel.extract.count_nodes"],
            "kernel.boilerplate.strip_s": s["kernel.boilerplate.strip"],
            "kernel.single_thread_mb_per_s": text_bytes / 1e6 / wall,
            "kernel.doc_latency_p50_ms": p50 * 1e3,
            "kernel.doc_latency_tail_ms": tail * 1e3,
            "kernel.doc_latency_tail_pct": tail_pct,
            "kernel.replay_s": wall,
            "kernel.replay_rows": rows,
            "kernel.replay_coverage": timed / wall,
        }
        for reason in TRACKED_BAILS + ("other",):
            out["kernel.fastscan.bail." + reason] = c["bail." + reason]
        return out
