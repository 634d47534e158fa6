"""Event-log parsing and span attribution.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import eventlog  # noqa: E402
from harness import Tracer, base_conf  # noqa: E402


def _job(app_events, job_id, group, start_ms, end_ms, stages, sql=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    app_events += [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": job_id,
            "Submission Time": start_ms,
            "Stage IDs": stages,
            "Properties": props,
        },
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end_ms},
    ]


def _acc(acc_id, name, update):
    """A SQL metric update as Spark logs it (values as strings)."""
    return {"ID": acc_id, "Name": name, "Update": str(update), "Value": str(update), "Metadata": "sql"}


def _task(app_events, stage, run_ms, launch, finish, python_ms=0, accs=()):
    app_events.append(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Info": {
                "Launch Time": launch,
                "Finish Time": finish,
                "Accumulables": [_acc(900, eventlog.PYTHON_TIME_METRIC, python_ms), *accs],
            },
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000,
                "JVM GC Time": 1,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            },
        }
    )


def test_attribution_rolls_nested_spans_up_and_measures_gaps():
    spans = [
        {"id": "a", "name": "op", "parent": None, "start": 10.0, "end": 14.0},
        {"id": "a1", "name": "inner", "parent": "a", "start": 11.0, "end": 12.0},
        {"id": "b", "name": "op", "parent": None, "start": 20.0, "end": 22.0},
    ]
    ev = [{"Event": "SparkListenerApplicationStart"}]
    _job(ev, 0, "a", 10_000, 11_000, [0])
    _job(ev, 1, "a1", 11_000, 12_000, [1])
    _job(ev, 2, "b", 20_000, 22_000, [2])
    _job(ev, 3, None, 30_000, 31_000, [3])  # outside every span
    _task(ev, 0, 100, 10_000, 10_100)
    _task(ev, 0, 300, 10_000, 10_300, python_ms=7)
    _task(ev, 1, 50, 11_000, 11_050)
    _task(ev, 2, 40, 20_000, 20_040)
    _task(ev, 3, 999, 30_000, 30_999)
    # a second application restarts job and stage ids at 0
    ev.append({"Event": "SparkListenerApplicationStart"})
    _job(ev, 0, "b", 21_000, 21_500, [0])
    _task(ev, 0, 5, 21_000, 21_005)

    per_span = eventlog.attribute(spans, ev)
    assert set(per_span) == {"a", "b"}
    a, b = per_span["a"], per_span["b"]
    assert (a["jobs"], a["tasks"], a["task_run_ms"]) == (2, 3, 450)
    assert a["python_ms"] == 7
    assert a["shuffle_write_bytes"] == 60 and a["shuffle_read_bytes"] == 30
    assert a["task_skew"] == pytest.approx(300 / 200)
    assert a["driver_gap_share"] == pytest.approx(0.5)  # jobs cover 2 s of 4
    assert (b["jobs"], b["tasks"], b["task_run_ms"]) == (2, 2, 45)
    assert b["driver_gap_share"] == pytest.approx(0.0)

    per_op = eventlog.per_op_type(spans, ev)
    assert set(per_op) == {"op"}
    assert per_op["op"]["jobs"] == 2
    assert per_op["op"]["tasks"] == pytest.approx(2.5)


def _plan(name, metric_ids, *children):
    return {
        "nodeName": name,
        "metrics": [{"name": "number of output rows", "accumulatorId": i, "metricType": "sum"} for i in metric_ids],
        "children": list(children),
    }


def test_scan_rows_count_only_scan_nodes_of_the_span_executions():
    spans = [
        {"id": "a", "name": "probe", "parent": None, "start": 10.0, "end": 14.0},
        {"id": "b", "name": "other", "parent": None, "start": 20.0, "end": 22.0},
    ]
    ev = [
        {"Event": "SparkListenerApplicationStart"},
        {
            "Event": eventlog.SQL_PLAN_EVENTS[0],
            "executionId": 4,
            "sparkPlanInfo": _plan("Filter", [10], _plan("Scan parquet ", [11])),
        },
        # an adaptive re-plan adds a second scan node to the same execution
        {
            "Event": eventlog.SQL_PLAN_EVENTS[1],
            "executionId": 4,
            "sparkPlanInfo": _plan("Union", [], _plan("Scan parquet ", [11]), _plan("Scan parquet ", [12])),
        },
    ]
    _job(ev, 0, "a", 10_000, 11_000, [0], sql=4)
    _job(ev, 1, "b", 20_000, 21_000, [1])  # no SQL execution
    rows = "number of output rows"
    _task(ev, 0, 10, 10_000, 10_010, accs=[_acc(11, rows, 600), _acc(10, rows, 5)])
    _task(ev, 0, 10, 10_000, 10_010, accs=[_acc(12, rows, 400)])
    _task(ev, 1, 10, 20_000, 20_010, accs=[_acc(11, rows, 77)])
    per_span = eventlog.attribute(spans, ev)
    assert per_span["a"]["scan_rows"] == 1000
    assert per_span["b"]["scan_rows"] == 0


def test_toy_spark_job_is_attributed_to_its_span(tmp_path):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
    for k, v in base_conf(str(tmp_path), trace=True).items():
        builder = builder.config(k, v)
    spark = builder.config("spark.ui.enabled", "false").getOrCreate()
    try:
        tracer = Tracer(spark.sparkContext, enabled=True)
        with tracer.span("one_job"):
            spark.sparkContext.parallelize(range(100), 3).count()
        with tracer.span("two_jobs"):
            with tracer.span("child"):
                spark.sparkContext.parallelize(range(10), 2).count()
            spark.sparkContext.parallelize(range(10), 4).count()
        spark.sparkContext.parallelize(range(10), 5).count()  # no span
    finally:
        spark.stop()
    events = eventlog.read_events(str(tmp_path / "eventlog"))
    per_op = eventlog.per_op_type(tracer.spans, events)
    assert set(per_op) == {"one_job", "two_jobs"}
    assert per_op["one_job"]["jobs"] == 1 and per_op["one_job"]["tasks"] == 3
    assert per_op["two_jobs"]["jobs"] == 2 and per_op["two_jobs"]["tasks"] == 6
    assert 0.0 <= per_op["two_jobs"]["driver_gap_share"] < 1.0


def test_real_log_units_for_python_time_and_scan_rows(tmp_path):
    """On a real event log: the Python runner time is in milliseconds (it
    is at least the UDF's sleep and at most the task run time), and the
    scan rows are the rows read, not the rows returned."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.master("local[1]").appName("perfbench-eventlog-units")
    for k, v in base_conf(str(tmp_path), trace=True).items():
        builder = builder.config(k, v)
    spark = builder.config("spark.ui.enabled", "false").getOrCreate()

    def slow_plus_one(s: pd.Series) -> pd.Series:  # nested: pickled by value
        time.sleep(0.3)
        return s + 1

    slow = F.pandas_udf(slow_plus_one, "long")
    try:
        path = str(tmp_path / "t.parquet")
        spark.range(0, 1000, 1, 1).write.parquet(path)
        tracer = Tracer(spark.sparkContext, enabled=True)
        with tracer.span("udf"):
            spark.read.parquet(path).filter("id % 10 = 0").select(slow("id")).write.format("noop").mode(
                "overwrite"
            ).save()
    finally:
        spark.stop()
    op = eventlog.per_op_type(tracer.spans, eventlog.read_events(str(tmp_path / "eventlog")))["udf"]
    assert 300 <= op["python_ms"] <= op["task_run_ms"]
    assert op["scan_rows"] == 1000
