"""Benchmark entry point.

    python3 perfbench/run.py --workload timetravel_query --seed 1 --seconds 12 --trace 0

Runs one workload in a worker process (perfbench/worker.py) sized for
this machine, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the worker runs traced and the metrics are the per-layer metrics. The
line before it is a JSON object with everything the run measured
(including the workload's own end-to-end names, the set-up passes, the
phase times and the generated input properties).

All scratch data lives under ``.perfbench_work/`` at the repository
root and is removed on exit. Exits non-zero, printing no result, when
the package under test is missing or a worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("timetravel_query", "graph_ingest")
DEADLINE_S = 175  # the whole command must end within 180 s

sys.path.insert(0, HERE)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_group(proc: subprocess.Popen, grace_s: float) -> None:
    """Give the worker's process group (Python workers, the JVM) grace_s
    to exit on its own, then terminate and finally kill what is left, and
    wait until the group is gone."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5), (signal.SIGKILL, 5)):
        try:
            if sig is not None:
                os.killpg(proc.pid, sig)
            for _ in range(int(wait_s * 10)):
                os.killpg(proc.pid, 0)
                time.sleep(0.1)
        except ProcessLookupError:
            return


def run_worker(args, work_dir: str, trace: int, deadline: float) -> dict | None:
    from harness import session_env

    out = os.path.join(work_dir, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(trace),
        "--size", args.size,
        "--work-dir", work_dir,
        "--out", out,
        "--t0", repr(time.time()),
    ]
    if args.expect_wrong:
        cmd.append("--expect-wrong")
    env = dict(os.environ, **session_env(work_dir))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True, stdout=sys.stderr)
    code = None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
    finally:
        _stop_group(proc, grace_s=20 if code is not None else 0)
        proc.wait()
    if code != 0 or not os.path.exists(out):
        return None
    with open(out, encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: for the benchmark's tests")
    p.add_argument("--expect-wrong", action="store_true", help="corrupt one expected answer (tests)")
    args = p.parse_args(argv)
    deadline = time.time() + DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "rdf_diff_store_spark")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        return fail(f"package under test not found next to {HERE}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        return fail(f"cannot read BENCHMARK.json: {e}")

    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    try:
        result = run_worker(args, work_dir, args.trace, deadline)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    if result is None:
        return fail("worker failed")
    e2e = {k: v["value"] for k, v in result["end_to_end"].items()}
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        # a layer a workload leaves idle did no work: 0
        values = {m["name"]: 0.0 for m in spec["per_layer"]} | result["per_layer"]
        # the traced run's own end-to-end figures: set against the untraced
        # run of the same seed they give the tracing overhead
        values["trace.latency_ms"] = e2e["latency_ms"]
        values["trace.throughput_per_s"] = e2e["throughput_per_s"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = e2e
    for e in result["errors"]:
        print(f"perfbench: wrong answer: {e}", file=sys.stderr)
    print(json.dumps({k: v for k, v in result.items() if k not in ("attempted", "failed", "errors")}))
    missing = [n for n, _ in names if n not in values]
    if missing:
        return fail(f"metrics not produced: {missing}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
