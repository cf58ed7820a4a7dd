"""The benchmark's workloads: one job run each, and an output check.

chat_job         transcripts through ``checkpoint.run_with_checkpoint``
                 (fragment mode, ordered window, partitioned parquet
                 write, manifest append) into a fresh directory per run.
web_mixed        ~100 KB unique dense documents (15% off the C fast
                 scan) and 10-30 KB boilerplate pages (half of them
                 Zipf-drawn repeats), ``extract_turns(mode="document",
                 boilerplate=True, ordered=False)`` into the noop sink.

The web job appends a run-specific comment after ``</html>`` to every
document. It leaves the extracted text unchanged, keeps repeats within
one run identical (so the worker parse cache hits on them), and stops
the long-lived Python workers from answering a later run out of the
cache filled by an earlier one.

Each output check compares rows with a direct ``udfs.parse_turn`` call
on the same text over (extracted_text, spans, parse_errors,
node_count, parse_error_texts), and counts missing or extra rows.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from html_parser_spark.spark import udfs

RESULT_COLS = ["extracted_text", "spans", "parse_errors", "node_count",
               "parse_error_texts"]
# web_mixed counts every row and compares every boilerplate page but
# only this sample of the dense documents: indices whose fast-scan class
# is known (17 of each 20 are accepted, slot 3 bails
# raw-tag-after-foreign, slot 9 cdata-after-foreign), so the sample
# holds all three classes
DENSE_CHECK_SLOTS = (3, 9, 13, 19)


def _expected(text, mode, boilerplate):
    r = udfs.parse_turn(text, mode, "div", boilerplate)
    spans = [(sp["start"], sp["end"], sp["path"]) for sp in r[1]]
    return (r[0], spans, r[2], r[3], list(r[5]))


def _split(offsets, values):
    return [values[a:b] for a, b in zip(offsets, offsets[1:])]


def _list_column(col):
    """list<...> column -> per-row Python lists, from flat buffers
    (to_pylist on the nested column boxes every struct as a dict)."""
    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    offsets = arr.offsets.to_pylist()
    base = offsets[0]
    offsets = [o - base for o in offsets]
    flat = arr.flatten()
    if pa.types.is_struct(flat.type):
        values = list(zip(*(flat.field(i).to_pylist()
                            for i in range(flat.type.num_fields))))
    else:
        values = flat.to_pylist()
    return _split(offsets, values)


def result_rows(table) -> list:
    """Per output row: (extracted_text, spans as (start, end, path)
    tuples, parse_errors, node_count, parse_error_texts)."""
    return list(zip(table.column("extracted_text").to_pylist(),
                    _list_column(table.column("spans")),
                    table.column("parse_errors").to_pylist(),
                    table.column("node_count").to_pylist(),
                    _list_column(table.column("parse_error_texts"))))


def compare(keys, texts, got_by_key, rows_out, mode, boilerplate):
    """(attempted, failed, output digest). keys/texts: the input rows;
    got_by_key: key -> result tuple from the job's output, which had
    rows_out rows. Missing, extra and duplicated rows all fail."""
    failed = (len(set(got_by_key) - set(keys))
              + rows_out - len(got_by_key))
    cache: dict = {}
    for key, text in zip(keys, texts):
        got = got_by_key.get(key)
        if got is None:
            failed += 1
            continue
        want = cache.get(text)
        if want is None:
            want = cache[text] = _expected(text, mode, boilerplate)
        if got != want:
            failed += 1
    h = hashlib.sha256()
    for key in sorted(got_by_key):
        h.update(repr((key, got_by_key[key])).encode("utf-8",
                                                     "surrogatepass"))
    return len(keys), failed, h.hexdigest()


class ChatJob:
    name = "chat_job"
    mode, boilerplate = "fragment", False
    # the write path's compiled code has mostly settled after two runs
    warmup_runs = 2

    def __init__(self, spark, info, work_dir):
        self.spark = spark
        self.info = info
        # per process, so that two invocations in one checkout cannot
        # remove each other's output
        self.base = os.path.join(work_dir, "out",
                                 f"{self.name}-{os.getpid()}")
        shutil.rmtree(self.base, ignore_errors=True)
        self.last_out = None

    def run(self, run_idx: int) -> None:
        from html_parser_spark.spark.checkpoint import run_with_checkpoint

        run_dir = os.path.join(self.base, f"run{run_idx}")
        self.last_out = run_with_checkpoint(
            self.spark, self.spark.read.parquet(self.info["path"]),
            os.path.join(run_dir, "out"), os.path.join(run_dir, "ckpt"))

    def discard_previous(self, run_idx: int) -> None:
        shutil.rmtree(os.path.join(self.base, f"run{run_idx - 1}"),
                      ignore_errors=True)

    def check(self, last_execs):
        rows = self.info["rows"]
        t = pq.read_table(self.last_out,
                          columns=["conv_id", "turn_idx", "turn_rank"]
                          + RESULT_COLS)
        got = {}
        bad_rank = 0
        for conv, turn, rank, res in zip(
                t.column("conv_id").to_pylist(),
                t.column("turn_idx").to_pylist(),
                t.column("turn_rank").to_pylist(), result_rows(t)):
            got[(conv, turn)] = res
            # turn_idx runs 0..k-1 inside a conversation, so the
            # ordered window must rank it turn_idx + 1
            bad_rank += rank != turn + 1
        attempted, failed, digest = compare(
            [(r[0], r[1]) for r in rows], [r[3] for r in rows], got,
            t.num_rows, self.mode, self.boilerplate)
        manifest = pq.read_table(
            os.path.join(os.path.dirname(os.path.dirname(self.last_out)),
                         "ckpt", "manifest"), columns=["turns"])
        manifest_turns = sum(manifest.column("turns").to_pylist())
        failed += bad_rank + abs(manifest_turns - len(rows))
        shutil.rmtree(self.base, ignore_errors=True)
        return attempted, failed, digest

    def replay_rows(self):
        return self.info["rows"]


class WebMixed:
    name = "web_mixed"
    mode, boilerplate = "document", True
    # per-document Python work dominates; the run after the cold one is
    # already as fast as later ones
    warmup_runs = 1

    def __init__(self, spark, info, work_dir):
        self.spark = spark
        self.info = info

    def frame(self, tag: str, keys=None):
        from pyspark.sql import functions as F

        from html_parser_spark.spark.pipeline import extract_turns

        df = self.spark.read.parquet(self.info["path"]).withColumn(
            "text", F.concat("text", F.lit(f"<!--{tag}-->")))
        if keys is not None:
            df = df.where(F.col("conv_id").isin(sorted(keys)))
        return extract_turns(df, mode=self.mode, ordered=False,
                             boilerplate=self.boilerplate)

    def run(self, run_idx: int) -> None:
        self.frame(f"run {run_idx}").write.format("noop").mode(
            "overwrite").save()

    def discard_previous(self, run_idx: int) -> None:
        pass

    def check(self, last_execs):
        """Rows out of the last timed run (from its SQL metrics) must
        equal rows in; the checked rows are extracted once more, into
        Arrow, and compared with parse_turn."""
        import sparkmetrics

        rows = self.info["rows"]
        keys = self.check_keys()
        rows = [r for r in rows if r[0] in keys]
        tag = "check"
        t = self.frame(tag, keys).select("conv_id", *RESULT_COLS).toArrow()
        got = dict(zip(t.column("conv_id").to_pylist(), result_rows(t)))
        _, failed, digest = compare(
            [r[0] for r in rows], [r[3] + f"<!--{tag}-->" for r in rows],
            got, t.num_rows, self.mode, self.boilerplate)
        rows_out = sparkmetrics.node_total(last_execs, "MapInArrow",
                                           "number of output rows")
        failed += abs(int(rows_out) - len(self.info["rows"]))
        return len(self.info["rows"]), failed, digest

    def check_keys(self):
        return {r[0] for r in self.info["rows"]
                if r[0].startswith("page")
                or int(r[0][5:]) % 20 in DENSE_CHECK_SLOTS}

    def replay_rows(self):
        return [r[:3] + (r[3] + "<!--replay-->",) + r[4:]
                for r in self.info["rows"]]


WORKLOADS = {w.name: w for w in (ChatJob, WebMixed)}
