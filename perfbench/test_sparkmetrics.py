"""Tests of the benchmark's Spark metric collector.

    python3 -m pytest perfbench/test_sparkmetrics.py -q
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import sparkmetrics  # noqa: E402


def test_parse_single_values():
    assert sparkmetrics.parse_value("64")["total"] == 64
    assert sparkmetrics.parse_value("1,234")["max"] == 1234
    assert sparkmetrics.parse_value("61 ms")["total"] == pytest.approx(0.061)
    assert sparkmetrics.parse_value("1.6 s")["med"] == pytest.approx(1.6)
    assert sparkmetrics.parse_value("2.5 m")["total"] == pytest.approx(150)
    assert sparkmetrics.parse_value("0.0 B")["total"] == 0
    assert sparkmetrics.parse_value("5.4 MiB")["total"] == pytest.approx(
        5.4 * 2 ** 20)


def test_parse_per_task_values():
    v = sparkmetrics.parse_value(
        "total (min, med, max (stageId: taskId))\n"
        "1.6 s (373 ms, 394 ms, 410 ms (stage 2.0: task 7))")
    assert v["total"] == pytest.approx(1.6)
    assert (v["min"], v["med"], v["max"]) == pytest.approx(
        (0.373, 0.394, 0.410))
    v = sparkmetrics.parse_value(
        "total (min, med, max (stageId: taskId))\n"
        "7.4 MiB (1829.7 KiB, 1918.4 KiB, 2008.8 KiB (stage 6.0: task 14))")
    assert v["med"] == pytest.approx(1918.4 * 1024)
    v = sparkmetrics.parse_value(
        "(min, med, max (stageId: taskId)):\n(1, 2, 3 (stage 34.0: task 196))")
    assert (v["total"], v["min"], v["med"], v["max"]) == (2, 1, 2, 3)


def test_parse_rejects_unknown_unit():
    with pytest.raises(ValueError):
        sparkmetrics.parse_value("3 parsecs")


@pytest.mark.spark
def test_tiny_extraction_reports_layer_metrics():
    import run

    work = tempfile.mkdtemp(prefix="perfbench-test-")
    run.WORK = work
    run.configure_env(2)
    from html_parser_spark.spark.pipeline import extract_turns
    from html_parser_spark.spark.session import get_spark
    from html_parser_spark.spark.transcripts import transcripts_df

    spark = get_spark("perfbench-test")
    try:
        before = sparkmetrics.last_execution_id(spark)
        df = transcripts_df(spark, 2000, seed=3, include_fixtures=False,
                            partitions=2)
        extract_turns(df).write.format("noop").mode("overwrite").save()
        m = sparkmetrics.layer_metrics(
            sparkmetrics.executions_since(spark, before))
    finally:
        run.stop_spark(spark, [])
        shutil.rmtree(work, ignore_errors=True)
    assert m["arrow.python_run_s"] > 0
    assert m["exchange.bytes"] > 0
    assert m["sort.time_s"] >= 0
    assert m["exec.kernel_s"] > 0
