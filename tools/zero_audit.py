"""Signed-zero audit: python tools/zero_audit.py [sf_dir]

Runs EVERY registered oracle in DuckDB at
the given scale and reports any column that emits a -0.0 cell — the
round-8 `graph_modularity` divergence class (DuckDB ROUND of a tiny
negative double yields -0.0 where Spark round yields +0.0, and the
verify driver's value hash is signed-zero strict).

Empirical companion to the static ROUND(-able) grep: a hit here is a
query that WILL hash-mismatch at the driver unless its Spark side
also emits -0.0 bit-for-bit on the same rows.  The fix discipline is
`+ 0` after the ROUND on the oracle side (IEEE -0.0 + 0.0 = +0.0),
`+ F.lit(0.0)` on the Spark side where applicable.
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

from ml_feature_store_enterprise_grade_spark import registry
from ml_feature_store_enterprise_grade_spark.testing import duckdb_connection


def _neg_zero_cols(cols: list[str], rows: list[tuple]) -> dict[str, int]:
    hits: dict[str, int] = {}

    def scan(name: str, v: object) -> None:
        if isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0:
            hits[name] = hits.get(name, 0) + 1
        elif isinstance(v, (list, tuple)):
            for x in v:
                scan(name, x)

    for r in rows:
        for c, v in zip(cols, r):
            scan(c, v)
    return hits


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry.load_all()
    oracles = registry.oracles()
    con = duckdb_connection(sf_dir)
    n_hit = 0
    for name, sql in sorted(oracles.items()):
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            n_hit += 1
            continue
        hits = _neg_zero_cols(cols, rows)
        if hits:
            n_hit += 1
            detail = ", ".join(f"{c}×{n}" for c, n in hits.items())
            print(f"NEGZERO  {name}: {detail}")
    print(f"\n{n_hit} oracle(s) with -0.0 emissions / {len(oracles)} swept")
    return 1 if n_hit else 0


if __name__ == "__main__":
    raise SystemExit(main())
