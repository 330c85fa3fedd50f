"""Fast local parity sweep: python tools/parity.py [sf_dir] [query ...] [--vanilla] [--window]

``--vanilla`` runs the sweep on a BARE SparkSession (none of the
engine's session confs), replicating the verify driver's environment
exactly — every query must self-configure through
``catalog.ensure_engine_confs`` on its own load path.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from ml_feature_store_enterprise_grade_spark.session import get_spark
from ml_feature_store_enterprise_grade_spark.testing import run_parity


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    window = "--window" in args
    args = [a for a in args if a not in ("--vanilla", "--window")]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a] or None
    if window:
        # Dry-run of the verify driver's check: exactly the first
        # DRIVER_WINDOW driver-visible queries, in window order.  Run
        # with --vanilla at sf0.01 before a round ends to see what
        # CORRECTNESS_r{N} will contain.
        from ml_feature_store_enterprise_grade_spark import registry

        registry.load_all()
        only = list(registry.queries())[: registry.DRIVER_WINDOW]
    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("parity_vanilla").getOrCreate()
    else:
        spark = get_spark("parity", cpus=8)
    results = run_parity(spark, sf_dir, only=only)
    n_bad = 0
    for r in results:
        mark = "PASS" if r.ok else "FAIL"
        print(f"{mark}  {r.name}  rows={r.spark_rows}  {r.detail}")
        for m in r.mismatches:
            print(f"      {m}")
        n_bad += 0 if r.ok else 1
    print(f"\n{len(results) - n_bad}/{len(results)} pass")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
