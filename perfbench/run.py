"""Benchmark of the engine's incremental ERP sync, its dashboard
queries and its span-dedup ingest loop.

Run from the repository root:

    python3 perfbench/run.py --workload erp_sync --seed 1 --seconds 12 --trace 0

One run is one workload, one process, one client in a closed loop.
The run spools its seeded inputs, starts Spark with
``SPARK_GRAFT_CPUS`` set to the CPUs this process may use, bootstraps
the workload's stores and runs warm-up ops (all charged to
``setup_s``), then runs ops until ``--seconds`` of op time have
passed in op calls the host did not disturb (a query rotation in
progress is finished), checks every output, and prints one JSON line
last: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  A traced run of ``erp_sync`` then also runs a few
``doc_fold`` steps, whose layer no timed workload reaches.  The line
before the result carries the run's context: CPU count, each op
call's latencies and host steal share, tail latency and its
percentile, error rate, peak RSS of the process tree, host counters.
Scratch files live under ``.perfbench_work/`` in the repository and are
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Co-tenants on a shared host steal CPU in episodes of tens of seconds.
# The steal is a small visible part of the contention: sync ticks ran
# about 7% slower at a steal share of 0.5-1%, 18% at 1.5-2.5% and 25-60%
# above that.  An op call during which the host stole more than
# QUIET_STEAL of this process's CPUs' time is set aside and the window
# extended, up to CAP times --seconds of op time in all.  A cut at 1%
# stretched runs on a loaded host to 70 s without narrowing the spread.
QUIET_STEAL = 0.025
CAP = 2.5


def _tail(lat: list[float]) -> tuple[int, float] | None:
    """(percentile, latency) of the highest nearest-rank percentile that
    still has 10 samples beyond it; None below 11 samples."""
    s = sorted(lat)
    if len(s) < 11:
        return None
    i = len(s) - 11
    return math.floor(100 * (i + 1) / len(s)), s[i]


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        raise


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import tinyerp_etl_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from spans import Tracer, instrument, mark, peak_rss_mb, steal_s
    from workloads import TRACED_COMPANION, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    companion = TRACED_COMPANION.get(args.workload) if args.trace else None

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })

    t0 = time.perf_counter()
    wl.prepare(work, args.seed)
    if companion:
        companion = companion()
        companion.prepare(os.path.join(work, "companion"), args.seed)
    t_inputs = time.perf_counter()
    from tinyerp_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    try:
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        if args.trace:
            instrument(tracer)
        wl.setup(spark, tracer)
        t_stores = time.perf_counter()
        attempted = 0
        for _ in range(wl.WARMUP_OPS):
            attempted += len(wl.op())
        tracer.take()
        setup_s = time.perf_counter() - t0

        quiet: list[float] = []  # latencies of the ops in undisturbed op calls
        noisy: list[float] = []  # and in op calls the host disturbed
        per_call = []  # (op latencies, host steal share) of each timed op call
        calls = []  # traced spans of each timed op call
        w0 = mark()
        while sum(quiet) < args.seconds and sum(quiet + noisy) < CAP * args.seconds:
            s, t = steal_s(), time.perf_counter()
            got = wl.op()
            share = (steal_s() - s) / ((time.perf_counter() - t) * cpus)
            (quiet if share <= QUIET_STEAL else noisy).extend(got)
            per_call.append(([round(x, 3) for x in got], round(share, 4)))
            if args.trace:
                calls.append(tracer.take())
        w1 = mark()
        attempted += len(quiet) + len(noisy)
        lat = quiet or noisy  # a run disturbed throughout reports every op
        correct, failed = wl.check()
        layers = wl.layers(calls) if args.trace else {}
        if companion:
            companion.setup(spark, tracer)
            for _ in range(companion.WARMUP_OPS):
                companion.op()
            tracer.take()
            companion_calls = []
            for _ in range(companion.TRACED_OPS):
                companion.op()
                companion_calls.append(tracer.take())
            ok, bad = companion.check()
            correct, failed = correct and ok, failed + bad
            attempted += companion.WARMUP_OPS + companion.TRACED_OPS
            layers.update(companion.layers(companion_calls))
        rss_peak_mb = peak_rss_mb()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run is using it
            os.rmdir(os.path.dirname(work))

    ops_per_s = len(lat) / sum(lat)
    wall, cpu_s, steal_s = (b - a for a, b in zip(w0, w1))
    host = {"host.steal_s": steal_s, "host.cpu_s": cpu_s,
            "host.cpu_util": cpu_s / (wall * cpus)}
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "SPARK_GRAFT_CPUS": cpus, "timed_ops": len(lat), "disturbed_ops": len(noisy),
        "op_calls_latencies_s_steal_share": per_call,
        "op_tail": _tail(lat), "error_rate": failed / attempted, "rss_peak_mb": rss_peak_mb,
        "setup_phases_s": {"inputs": t_inputs - t0, "session": t_session - t_inputs,
                           "stores": t_stores - t_session, "warmup": t0 + setup_s - t_stores},
        **host,
    }
    if args.trace:
        # job, stage and task totals of each timed op call, for run-to-run comparison
        context["counts_per_call"] = _counts(calls)
    if companion:
        context["companion_counts_per_call"] = _counts(companion_calls)
    print("perfbench context: " + json.dumps(context))
    units = _declared_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        # a layer this workload never calls reads 0
        metrics = {**dict.fromkeys(units, 0.0), **layers, **host,
                   "trace.ops_per_s": ops_per_s}
    else:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "op_p50_s": statistics.median(lat),
        }
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _counts(calls) -> list[list[int]]:
    return [[sum(getattr(s, a) for s in spans) for a in ("jobs", "stages", "tasks")]
            for spans in calls]


def _declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
