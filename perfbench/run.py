"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_mixed --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  Everything the run writes goes under
``.bench_work/`` in the current directory and is removed at exit.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  The line
before it is the workload's own report (the workload-specific numbers
named in README.md).  Exit status is non-zero when any output was wrong
or the engine could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _end_to_end(run, peak_rss_mb: float) -> dict:
    from perfbench.harness import median

    lat = run.latencies_ms()
    return {
        "setup_s": (run.session_s + median(run.setup_samples) + run.warmup_s, "s"),
        "op_ms_p50": (median(lat), "ms"),
        "ops_per_s": (len(lat) / run.loop_wall_s, "1/s"),
        "items_per_s": (run.items / run.items_time_s, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _op_summary(run) -> dict:
    """Per op kind: count and min / quartiles / max latency in ms."""
    import statistics

    out = {}
    for kind in dict.fromkeys(k for k, _a, _b in run.ops):
        xs = sorted(run.latencies_ms(kind))
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
        out[kind] = {"n": len(xs), "min": xs[0], "q1": q[0], "median": q[1],
                     "q3": q[2], "max": xs[-1]}
    return out


def _select(metrics: dict, listed: list) -> dict:
    """The metrics BENCHMARK.json lists, in its order.  A listed metric
    that was not produced, or whose unit differs, is an error."""
    out = {}
    for m in listed:
        value, unit = metrics[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit!r}, listed {m['unit']!r}")
        out[m["name"]] = (value, unit)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)
    # a terminated run still ends its Spark processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_a: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import hbase_snapshot_spark  # noqa: F401 — the program under test
    except ImportError as ex:
        print(f"perfbench: cannot import the engine: {ex}", file=sys.stderr)
        return 2
    from perfbench import harness, workloads

    harness.adopt_orphans()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # Python's and the JVM's temp files stay inside the checkout too
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    run = harness.Run(args.workload, args.seed, args.seconds, work, tracer)
    probe_s = harness.host_probe()
    sampler = harness.MemorySampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.make_spark(work, traced=bool(args.trace))
        run.session_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.install()
        workloads.WORKLOADS[args.workload](spark, run, args.size)
        sampler.stop()
        if tracer is not None:
            tracer.uninstall()
    finally:
        sampler.stop()
        harness.end_processes(spark)
    e2e = _end_to_end(run, sampler.peak_mb)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    layers = tracer.per_layer(run, work, probe_s) if tracer is not None else {}
    metrics = _select(layers, contract["per_layer"]) if tracer is not None \
        else _select(e2e, contract["end_to_end"])
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "workload_report": run.report,
        "per_layer": {k: v for k, (v, _u) in layers.items()},
        "fail_frac": run.failed / max(1, run.attempted),
        "host_probe_s": probe_s,
        "setup_samples_s": run.setup_samples,
        "warmup_s": run.warmup_s,
        "session_s": run.session_s,
        "checks_in_loop_s": run.untimed_s,
        "op_ms": _op_summary(run),
        "problems": run.problems[:20],
    }
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": run.correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
