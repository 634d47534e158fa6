"""One workload in one process: set up, run the closed loop for the
requested seconds, check every answer, and write the metrics as JSON.

Started by run.py with the environment from ``harness.session_env``;
not meant to be run by hand except for debugging:

    python3 perfbench/worker.py --workload graph_ingest --seed 1 --seconds 10 \
        --trace 0 --work-dir .perfbench_work/dbg --out /dev/stdout
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MODULES = {"timetravel_query": "wl_timetravel", "graph_ingest": "wl_ingest"}
SETUP_PASSES = 3


def load_workload(name: str):
    import importlib

    return importlib.import_module(MODULES[name])


def _hook(wl, name):
    """A workload's optional hook, or a no-op when it defines none."""
    return getattr(wl, name, None) or (lambda *a, **k: [])


def run(args) -> dict:
    from harness import Clock, Tracer, base_conf, host_cpus, jvm_peak_rss_mb, median

    from rdf_diff_store_spark.session import get_spark

    mod = load_workload(args.workload)
    conf = base_conf(args.work_dir, bool(args.trace))
    wl = mod.Workload(args.work_dir, args.seed, args.size)
    wl.expect_wrong = args.expect_wrong

    # Set-up is measured SETUP_PASSES times. A pass generates and writes
    # the inputs, opens the store and ends when the store has returned its
    # first (checked) answer. Pass 1 runs from process start, so it also
    # holds the Python and JVM launch and the session start; later passes
    # repeat the pass in the same session. The checker's own expectation
    # work (pass 1 only) is not counted. setup_s is the median pass. The
    # session is not restarted between passes: in a session restarted in
    # the same process, Spark logged a failed Python accumulator update
    # for the UDF tasks, which a service that starts once never sees.
    phases: dict[str, float] = {}
    clock = Clock()
    spark = get_spark(f"perfbench-{args.workload}", cpus=host_cpus(), extra_conf=conf)
    session_start_s = time.time() - args.t0
    tracer = Tracer(spark.sparkContext, bool(args.trace))
    tracer.prefix = "warmup."
    setups = []
    for n in range(SETUP_PASSES):
        t = args.t0 if n == 0 else time.time()
        _hook(wl, "generate")(spark)
        excluded = 0.0
        if n == 0:
            te = time.time()
            _hook(wl, "expectations")()
            excluded = phases["expectations"] = time.time() - te
        wl.open(spark, tracer)
        _, _, ok, why = wl.step(0)
        clock.check(ok, why)
        setups.append(time.time() - t - excluded)
    t = time.time()
    for ok, why in _hook(wl, "warm_up")():
        clock.check(ok, why)
    phases["warmup"] = time.time() - t
    tracer.prefix = ""

    # Closed loop over a fixed amount of work: --seconds divided by the
    # workload's nominal operation cost, so every run (and every commit)
    # sends the same operations in the same order and meets the same
    # cache state. A time-bounded loop let a faster period fit more
    # requests, hence more cache hits, which moved the medians.
    n_ops = max(wl.min_ops, round(args.seconds / wl.nominal_op_s))
    t_begin = time.perf_counter()
    for i in range(n_ops):
        t = time.perf_counter()
        try:
            kind, wall, ok, why = wl.step(i)
        except Exception as e:  # noqa: BLE001 - a refused operation is a failed one
            traceback.print_exc()
            kind, wall, ok, why = "refused", time.perf_counter() - t, False, repr(e)[:200]
        clock.record(kind, wall, ok, why)
    phases["timed"] = time.perf_counter() - t_begin

    t = time.time()
    for ok, why in _hook(wl, "final_checks")():
        clock.check(ok, why)
    phases["final_checks"] = time.time() - t
    e2e = {
        "setup_s": (median(setups), "s"),
        "jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
        "failed_share": (clock.failed / max(clock.attempted, 1), "ratio"),
        **wl.summary(clock, phases["timed"]),
    }
    layers: dict[str, float] = {}
    if args.trace:
        layers["session.start_s"] = session_start_s
        layers.update(_hook(wl, "layer_metrics")() or {})
        t = time.time()
        layers.update(_hook(wl, "probes")(tracer, clock) or {})
        phases["probes"] = time.time() - t
    props = dict(wl.props)
    if args.trace:
        layers.update(props)
    spans = list(tracer.spans)
    spark.stop()
    if args.trace:
        import eventlog

        events = eventlog.read_events(os.path.join(args.work_dir, "eventlog"))
        per_op = eventlog.per_op_type(spans, events)
        layers.update(wl.spark_layer_metrics(per_op))
        if not eventlog.has_python_metric(events):
            print("perfbench: the event log carries no Python runner time metric", file=sys.stderr)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": clock.attempted,
        "failed": clock.failed,
        "errors": clock.errors,
        "setup_passes_s": setups,
        "phases_s": phases,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": layers,
        "input": props,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--size", default="full")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, default=None)
    p.add_argument("--expect-wrong", action="store_true", help="corrupt one expected answer (tests)")
    args = p.parse_args(argv)
    if args.t0 is None:
        args.t0 = time.time()
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - the launcher reports the failure
        traceback.print_exc()
        return 1
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
