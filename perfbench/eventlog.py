"""Spark event-log parsing and span attribution, standard library only.

Spark writes one JSON object per line per application
(``spark.eventLog.enabled``). Each job carries the job group that was
active when it started (``spark.jobGroup.id``); the benchmark sets that
group to the id of the innermost open span, so every job, and through
its stages every task, belongs to one span. Metrics roll up from a span
to its top-level ancestor, and are then summarised per top-level span
name (one name per operation type)."""

from __future__ import annotations

import json
import os
import statistics

# SQL metric of the Python runner; Spark 4.1 logs it in milliseconds (on
# a real log: 2,032 for a task whose executor run time was 2,308 ms).
PYTHON_TIME_METRIC = "time to run Python workers"
OUTPUT_ROWS_METRIC = "number of output rows"
SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)

# per-op-type metrics, in output order
SPARK_METRICS = (
    "jobs",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_skew",
    "driver_gap_share",
    "python_ms",
)


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log in a directory, in file
    order (one file per SparkContext)."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _scan_row_metrics(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row counts of a plan's scan nodes
    (``Scan parquet ...`` and other data source scans)."""
    if plan.get("nodeName", "").startswith("Scan "):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m.get("name") == OUTPUT_ROWS_METRIC)
    for child in plan.get("children", []):
        _scan_row_metrics(child, out)


def jobs_and_tasks(events: list[dict]):
    """(jobs, tasks, scans): jobs = {key: {group, sql, start, end}},
    tasks = [{job, stage, run_ms, cpu_ms, gc_ms, shuffle_write,
    shuffle_read, spill, duration_ms, python_ms, scan_rows}], scans =
    {(app, SQL execution id): accumulator ids of its scan nodes' row
    counts}; a task's scan_rows sums its updates of those accumulators.
    Job, stage and execution ids restart with each application, so keys
    carry the application's ordinal."""
    jobs: dict[tuple[int, int], dict] = {}
    stage_job: dict[tuple[int, int], tuple[int, int]] = {}
    tasks: list[dict] = []
    scans: dict[tuple[int, int], set[int]] = {}
    app = -1
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind in SQL_PLAN_EVENTS:
            _scan_row_metrics(ev.get("sparkPlanInfo") or {}, scans.setdefault((app, ev["executionId"]), set()))
        elif kind == "SparkListenerJobStart":
            key = (app, ev["Job ID"])
            props = ev.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            jobs[key] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": None if sql is None else (app, int(sql)),
                "start": ev["Submission Time"] / 1000,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault((app, sid), key)
        elif kind == "SparkListenerJobEnd":
            key = (app, ev["Job ID"])
            if key in jobs:
                jobs[key]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            job = stage_job.get((app, ev["Stage ID"]))
            scan_ids = scans.get(jobs[job]["sql"], set()) if job in jobs else set()
            py = scan_rows = 0.0
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    py += float(acc.get("Update") or 0)
                elif acc.get("ID") in scan_ids:
                    scan_rows += float(acc.get("Update") or 0)
            tasks.append(
                {
                    "job": job,
                    "stage": (app, ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "duration_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "python_ms": py,
                    "scan_rows": scan_rows,
                }
            )
    return jobs, tasks


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], events: list[dict]) -> dict[str, dict[str, float]]:
    """Per top-level span: the Spark work of the span and its
    descendants. Returns {span_id: {metric: value}} for top-level spans."""
    by_id = {s["id"]: s for s in spans}

    def root(sid):
        while by_id[sid]["parent"] is not None:
            sid = by_id[sid]["parent"]
        return sid

    jobs, tasks = jobs_and_tasks(events)
    out = {
        s["id"]: {"jobs": 0, "_intervals": [], "_stages": {}}
        | {k: 0.0 for k in SPARK_METRICS + ("scan_rows",) if k not in ("jobs", "task_skew", "driver_gap_share")}
        for s in spans
        if s["parent"] is None
    }
    job_root = {}
    for key, j in jobs.items():
        if j["group"] in by_id:
            r = root(j["group"])
            job_root[key] = r
            out[r]["jobs"] += 1
            out[r]["_intervals"].append((j["start"], j["end"] or j["start"]))
    for t in tasks:
        r = job_root.get(t["job"])
        if r is None:
            continue
        o = out[r]
        o["tasks"] += 1
        o["task_run_ms"] += t["run_ms"]
        o["task_cpu_ms"] += t["cpu_ms"]
        o["gc_ms"] += t["gc_ms"]
        o["shuffle_write_bytes"] += t["shuffle_write"]
        o["shuffle_read_bytes"] += t["shuffle_read"]
        o["spill_bytes"] += t["spill"]
        o["python_ms"] += t["python_ms"]
        o["scan_rows"] += t["scan_rows"]
        o["_stages"].setdefault(t["stage"], []).append(t["duration_ms"])
    for sid, o in out.items():
        s = by_id[sid]
        wall = max(s["end"] - s["start"], 1e-9)
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in o.pop("_intervals")]
        busy = _union_length([(a, b) for a, b in clipped if b > a])
        o["driver_gap_share"] = max(0.0, 1 - busy / wall)
        skews = [
            max(d) / max(statistics.median(d), 1e-9)
            for d in o.pop("_stages").values()
            if len(d) >= 2
        ]
        o["task_skew"] = max(skews) if skews else 1.0
    return out


def per_op_type(spans: list[dict], events: list[dict]) -> dict[str, dict[str, float]]:
    """{op name: {metric: median over that op's top-level spans}}; the
    metrics are SPARK_METRICS plus scan_rows, the rows the op's scan
    nodes read."""
    per_span = attribute(spans, events)
    names: dict[str, list[dict]] = {}
    for s in spans:
        if s["id"] in per_span:
            names.setdefault(s["name"], []).append(per_span[s["id"]])
    return {
        name: {k: float(statistics.median(r[k] for r in rows)) for k in SPARK_METRICS + ("scan_rows",)}
        for name, rows in names.items()
    }


def has_python_metric(events: list[dict]) -> bool:
    return any(
        acc.get("Name") == PYTHON_TIME_METRIC
        for ev in events
        if ev.get("Event") == "SparkListenerTaskEnd"
        for acc in (ev.get("Task Info") or {}).get("Accumulables", [])
    )
