"""perfbench: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run sets up (generates the workload's
inputs from the seed, starts the engine's Spark session), runs one
un-warmed first pass, then warm passes until ``--seconds`` have passed
(at least ``MIN_WARM``; only the later half is measured), and checks
every operation's output outside the timed region. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones, taken from traced warm passes that alternate with untraced ones.
Spans of a traced run go to stderr as JSON lines at the end.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

harness.require_engine()

from spans import Tracer, peak_executor_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Warm passes per run, at least. Passes keep getting faster while the
#: JVM compiles hot code, so only the later half of the warm passes is
#: measured.
MIN_WARM = 3

with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as _fh:
    PER_LAYER = [(m["name"], m["unit"]) for m in json.load(_fh)["per_layer"]]


def cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def yardstick() -> float:
    """A fixed single-thread CPU loop: host drift, not the engine."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def log_pass(i: int, p) -> None:
    ops = " ".join(f"{name}={secs:.2f}" for name, secs, _ in p.ops)
    print(f"perfbench: pass {i} {'traced ' if p.layers else ''}{p.wall:.2f} s "
          f"storage {p.storage_mb:.3f} MB: {ops}",
          file=sys.stderr, flush=True)


def measured(warm: list) -> list:
    """The warm passes that count: the later half, JIT having settled."""
    return warm[len(warm) // 2:]


def end_to_end(first, warm, setup_s: float, spark) -> dict:
    by_op: dict[str, list[float]] = {}
    for p in measured(warm):
        for name, secs, _ in p.ops:
            by_op.setdefault(name, []).append(secs)
    wall = sum(statistics.median(v) for v in by_op.values())
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (first.wall, "s"),
        "wall_s": (wall, "s"),
        "peak_storage_mb": (max(p.storage_mb for p in (first, *warm)), "MB"),
        "peak_python_rss_mb": (
            peak_executor_metric(spark, "ProcessTreePythonRSSMemory") / 1e6, "MB"),
    }


def per_layer(traced, untraced, session_s: float, yard: list[float]) -> dict:
    values = {}
    for name in {k for p in traced for k in p.layers}:
        values[name] = statistics.median(p.layers.get(name, 0.0) for p in traced)
    values["session.build_s"] = session_s
    values["host.yardstick_s"] = statistics.median(yard)
    values["trace.overhead_frac"] = (
        statistics.median(p.wall for p in traced)
        / statistics.median(p.wall for p in untraced) - 1.0
    )
    return {name: (values.get(name, 0.0), unit) for name, unit in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with harness.Sandbox() as box:
        wl = WORKLOADS[args.workload](args.workload, box, args.seed)
        wl.prepare()
        t = time.perf_counter()
        spark = harness.start_spark(box, cpus())
        session_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0
        try:
            tracer = Tracer(spark) if args.trace else None
            yard = [yardstick() for _ in range(3)]
            first = wl.run_pass(spark)
            log_pass(0, first)
            warm, traced = [], []
            t_warm = time.perf_counter()
            while (
                len(warm) < MIN_WARM
                or (tracer and not traced)
                or time.perf_counter() - t_warm < args.seconds
            ):
                if tracer and len(traced) < len(warm):
                    traced.append(p := wl.run_pass(spark, tracer))
                else:
                    warm.append(p := wl.run_pass(spark))
                log_pass(len(warm) + len(traced), p)
            yard += [yardstick() for _ in range(3)]
            print(f"perfbench: host yardstick {' '.join(f'{y:.3f}' for y in yard)} s",
                  file=sys.stderr, flush=True)
            if tracer:
                metrics = per_layer(measured(traced), measured(warm), session_s, yard)
            else:
                metrics = end_to_end(first, warm, setup_s, spark)
        finally:
            harness.stop_spark(spark)
    if tracer:
        tracer.dump(sys.stderr)
    ops = [ok for p in (first, *warm, *traced) for _, _, ok in p.ops]
    failed = ops.count(False)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
