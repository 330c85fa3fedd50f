"""Optimization-round profiler: per-query noop-sink timings + the
``.explain("formatted")`` plan, written to ``plans/r13/<q>_<suffix>.txt``.

Usage:
    python tools/opt_profile.py [--sf DIR] [--passes N] [--suffix before|after]
                                [--plans-dir plans/r13] name [name ...]

Methodology (spark_optimization_guide §1): each query is timed
end-to-end (plan + execute + noop sink that materializes every row)
after one warm-up pass at sf0.001; jobs are labelled with
``setJobDescription``; the captured plan is the AQE-FINAL executed
plan (explain after the action) so join strategies / coalesced
partition counts in the file are what actually ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.session import get_spark


def explain_formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--suffix", default=None, help="write plans/r13/<q>_<suffix>.txt")
    ap.add_argument("--plans-dir", default="plans/r13")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("opt_profile")
    qs = registry.queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    warm_dir = "/root/testdata/sf0.001"
    if not args.no_warm and os.path.isdir(warm_dir):
        for n in args.names:
            try:
                qs[n](spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                print(f"warm-up {n}: {e}", file=sys.stderr)

    out: dict[str, dict] = {}
    for n in args.names:
        times = []
        df = None
        for p in range(args.passes):
            spark.sparkContext.setJobDescription(f"opt_profile:{n}:pass{p}")
            t0 = time.perf_counter()
            df = qs[n](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[n] = {"times": times, "min": min(times)}
        if args.suffix:
            os.makedirs(args.plans_dir, exist_ok=True)
            path = os.path.join(args.plans_dir, f"{n}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(
                    f"# {n} — explain('formatted'), AQE-final (captured after"
                    f" execution)\n# sf_dir={args.sf}  noop-sink times (s):"
                    f" {times}\n\n"
                )
                fh.write(explain_formatted(df))
                fh.write("\n")
        print(json.dumps({n: out[n]}), flush=True)
    print(json.dumps({"total_min": round(sum(v["min"] for v in out.values()), 3)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
