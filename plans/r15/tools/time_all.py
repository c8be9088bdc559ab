"""Time every registered query with the noop sink at $SPARK_GRAFT_SF_DIR.

Usage: python plans/r15/tools/time_all.py <out.json> [passes] [name ...]

One warm-up of the Arrow worker pool, then `passes` noop-sink passes
per query (min reported). Queries are labelled via setJobDescription.
This is a PROFILING tool (guide section 1.4), not the driver bench -
bench.py stays the comparable methodology.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", ".."))

from tinyerp_etl_spark.plans.registry import all_queries
from tinyerp_etl_spark.session import get_spark


def main() -> None:
    out_path = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    names = names or sorted(qs)
    spark = get_spark("time-all-profile")
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _p in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.perf_counter()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"
                continue
            dt = time.perf_counter() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = round(dt, 4)
            spark.sparkContext.setJobDescription(None)
    out = {
        "sf_dir": sf_dir,
        "passes": passes,
        "total": round(sum(timings.values()), 4),
        "errors": errors,
        "timings": dict(sorted(timings.items(), key=lambda x: -x[1])),
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"total": out["total"], "n": len(timings),
                      "errors": len(errors)}))


if __name__ == "__main__":
    main()
