"""Self-tests of the benchmark itself.  Run from the repository root:

    python3 perfbench/selftest.py [--seconds 12]

1. The same seed spools byte-identical inputs; another seed does not.
2. Without the engine beside it (a directory holding only
   ``BENCHMARK.json`` and ``perfbench/``) the benchmark exits non-zero
   and prints no result.
3. Per workload, two traced runs of one seed give identical job, stage
   and task counts per timed op call (and per ``doc_fold`` step of the
   traced ``erp_sync`` runs), and every run prints each metric
   BENCHMARK.json declares, with its unit.  The tracing overhead is the
   traced run's ``ops_per_s`` against an untraced run's.

Exits non-zero when a check fails.  Scratch files go under
``.perfbench_work/selftest`` and are removed.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import TRACED_COMPANION, WORKLOADS  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def check_inputs(scratch: str) -> list[str]:
    failures = []
    for _, cls in [*WORKLOADS.items(), *TRACED_COMPANION.items()]:
        dirs = [os.path.join(scratch, f"{cls.__name__}-{i}") for i in range(3)]
        for d, seed in zip(dirs, (7, 7, 8)):
            cls().prepare(d, seed)
        if not _same_tree(dirs[0], dirs[1]):
            failures.append(f"{cls.__name__}: seed 7 spooled different inputs twice")
        if _same_tree(dirs[0], dirs[2]):
            failures.append(f"{cls.__name__}: seeds 7 and 8 spooled identical inputs")
    return failures


def check_without_engine(scratch: str) -> list[str]:
    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "erp_sync",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or p.stdout.strip():
        return [f"without the engine: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def _run(workload: str, seconds: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "1", "--seconds", seconds, "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2].split(": ", 1)[1]), json.loads(lines[-1])


def check_runs(seconds: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for workload in WORKLOADS:
        runs = [_run(workload, seconds, t) for t in (1, 1, 0)]
        for (ctx, res), kind in zip(runs, ("per_layer", "per_layer", "end_to_end")):
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()
                   if isinstance(v.get("value"), (int, float))}
            if got != want or not res["correct"] or res["failed"]:
                failures.append(f"{workload} {kind}: correct={res['correct']} "
                                f"failed={res['failed']} metric/unit mismatch "
                                f"{set(got.items()) ^ set(want.items())}")
        for key in ("counts_per_call", "companion_counts_per_call"):
            a, b = (ctx.get(key, []) for ctx, _ in runs[:2])
            n = min(len(a), len(b))  # the number of timed op calls varies
            if a[:n] != b[:n]:
                failures.append(f"{workload}: {key} differ: {a[:n]} vs {b[:n]}")
            elif n:
                print(f"{workload}: jobs/stages/tasks, {key}: {a[:n]}")
        traced = runs[0][1]["metrics"]["trace.ops_per_s"]["value"]
        plain = runs[2][1]["metrics"]["ops_per_s"]["value"]
        print(f"{workload}: tracing overhead: traced {traced:.4f} vs untraced {plain:.4f} ops/s "
              f"({traced / plain - 1:+.1%})")
    return failures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", default="12")
    args = ap.parse_args()
    scratch = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        failures = check_inputs(scratch) + check_without_engine(scratch)
        failures += check_runs(args.seconds)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
