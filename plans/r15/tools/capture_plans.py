"""Capture .explain("formatted") for registered queries -> text files.

Usage:
  python plans/r15/tools/capture_plans.py <out_suffix> [name ...]

Writes plans/r14/<query>_<out_suffix>.txt for each named query (all
registered queries when no names are given). Plans are captured at
sf0.1 (the bench scale) without executing the query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", ".."))

from tinyerp_etl_spark.plans.registry import all_queries
from tinyerp_etl_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    names = names or sorted(qs)
    spark = get_spark("plan-capture")
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 - record the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
