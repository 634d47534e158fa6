"""Tiny-size end-to-end runs of the benchmark command.

Each run starts its own Spark JVM(s); the whole file takes a few
minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)

# each workload's own end-to-end names (printed on the detail line)
OWN_METRICS = {
    "timetravel_query": {
        "req_per_s": "1/s",
        "latency_p90_ms": "ms",
        "snapshot_p50_ms": "ms",
        "sparql_p50_ms": "ms",
        "diff_p50_ms": "ms",
    },
    "graph_ingest": {"updates_per_s": "1/s", "commit_p50_ms": "ms", "stored_bytes_per_user_byte": "ratio"},
}
# per-layer metrics each workload itself produces (the rest read 0: idle)
OWN_LAYERS = {
    "timetravel_query": ("relational.", "versioned.snapshot", "versioned.diff", "versioned.rows", "turtle.parse",
                         "turtle.triples", "sparql_text.", "caching.", "spark.snapshot.", "spark.sparql.",
                         "spark.diff."),
    "graph_ingest": ("ingest.", "turtle.canonicalize", "versioned.current_state", "spark.commit.", "spark.compact.",
                     "kg.", "spark.build."),
}

# layers that must have done work on each workload
BUSY = {
    "timetravel_query": ("relational.changelog_scan_ms", "versioned.snapshot_ms", "versioned.diff_ms",
                         "versioned.rows_scanned_per_row_returned", "turtle.parse_ms", "sparql_text.execute_ms",
                         "spark.snapshot.jobs", "spark.sparql.jobs", "spark.diff.jobs"),
    "graph_ingest": ("turtle.canonicalize_ms", "versioned.current_state_ms", "ingest.compact_ms",
                     "ingest.jobs_per_batch", "kg.build_s", "kg.jobs_per_build", "spark.commit.jobs",
                     "spark.compact.jobs", "spark.build.jobs"),
}


def run(workload: str, *extra: str, seconds: int = 4):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5", "--seconds", str(seconds),
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(OWN_METRICS))
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    detail, result = run(workload, "--trace", "1")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    layer_units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layer_units
    own = [n for n in layer_units if n.startswith(OWN_LAYERS[workload])]
    assert own and all(n in detail["per_layer"] for n in own), set(own) - set(detail["per_layer"])
    assert all(result["metrics"][n]["value"] > 0 for n in BUSY[workload]), {
        n: result["metrics"][n]["value"] for n in BUSY[workload]
    }
    assert result["metrics"]["trace.latency_ms"]["value"] > 0
    e2e = detail["end_to_end"]
    for m in SPEC["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"]
        assert e2e[m["name"]]["value"] > 0
    for name, unit in OWN_METRICS[workload].items():
        assert e2e[name]["unit"] == unit and e2e[name]["value"] > 0
    assert e2e["failed_share"]["value"] == 0


def test_untraced_run_prints_exactly_the_end_to_end_metrics():
    _, result = run("graph_ingest", "--trace", "0")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert result["correct"] is True


def test_wrong_expected_answer_is_counted_as_failed():
    detail, result = run("graph_ingest", "--trace", "0", "--expect-wrong")
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert detail["end_to_end"]["failed_share"]["value"] > 0


def test_missing_package_exits_nonzero_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(ROOT, "perfbench", name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph_ingest", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
