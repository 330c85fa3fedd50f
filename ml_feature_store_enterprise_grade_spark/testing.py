"""Differential-testing harness: Spark queries vs DuckDB oracles.

Mirrors the verify driver's comparison (row count + column names +
order-insensitive values) so regressions surface locally before a
round runs.  Strict by default: cells must match exactly after
canonicalization — engine queries are responsible for rounding
floats to a stable precision on both sides.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the catalog tables registered as views
    (same names the driver pre-registers)."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v: object) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            # SIGNED-ZERO STRICT (round-8 lesson): the verify driver's
            # value hash distinguishes -0.0 from +0.0, so the local
            # canonicalizer must too — normalizing both to "0" made
            # the local sweep blind to DuckDB ROUND(tiny_negative)
            # emitting -0.0 where Spark emits +0.0 (graph_modularity
            # r8, 96/297 rows green locally, red at the driver).
            # Engine queries own the normalization (`+ 0` after ROUND
            # on any side that can produce -0.0), not the harness.
            return "-0" if math.copysign(1.0, v) < 0 else "0"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    detail: str = ""
    mismatches: list[str] = field(default_factory=list)


def compare_query(
    name: str,
    df: DataFrame,
    oracle_sql: str,
    con: duckdb.DuckDBPyConnection,
    max_mismatches: int = 5,
) -> CompareResult:
    spark_cols = list(df.columns)
    spark_rows = [tuple(r) for r in df.collect()]
    cur = con.execute(oracle_sql)
    oracle_cols = [d[0] for d in cur.description]
    oracle_rows = cur.fetchall()

    res = CompareResult(name=name, ok=True, spark_rows=len(spark_rows), oracle_rows=len(oracle_rows))
    if sorted(spark_cols) != sorted(oracle_cols):
        res.ok = False
        res.detail = f"schema mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
        return res
    if len(spark_rows) != len(oracle_rows):
        res.ok = False
        res.detail = f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}"
        return res
    s = canonical_rows(spark_cols, spark_rows)
    o = canonical_rows(oracle_cols, oracle_rows)
    if s != o:
        res.ok = False
        diffs = [i for i, (a, b) in enumerate(zip(s, o)) if a != b]
        for i in diffs[:max_mismatches]:
            res.mismatches.append(f"row {i}: spark={s[i]} oracle={o[i]}")
        res.detail = f"value mismatch in {len(diffs)} of {len(s)} rows (cols sorted: {sorted(spark_cols)})"
    return res


def _norm_dtype(dtype: object) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's
    dtype-sensitive canonical hash actually distinguishes: int vs
    float vs datetime vs bool vs object.  int64 == int32 (same str
    repr per cell) but int64 != float64 (``64437`` vs ``64437.0``)."""
    s = str(dtype)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("datetime64"):
        return "datetime"
    if s.startswith("bool"):
        return "bool"
    return "object"


def dtype_issues(
    df: DataFrame, oracle_sql: str, con: duckdb.DuckDBPyConnection
) -> list[str]:
    """Cross-engine pandas-dtype parity — the check the driver's hash
    implicitly performs.  Catches the bug class that burned rounds 1
    and 2: an uncast DuckDB ``SUM(bigint)`` lands as HUGEINT → pandas
    float64 while Spark emits bigint → int64, so every value reprs
    differently ("64437.0" vs "64437") even when numerically equal.
    For object columns the first non-null cell's Python type is
    compared too (Decimal vs str vs float all hash apart)."""
    sp = df.toPandas()
    od = con.execute(oracle_sql).df()
    issues: list[str] = []
    for c in sorted(sp.columns):
        if c not in od.columns:
            issues.append(f"{c}: missing from oracle result")
            continue
        a, b = _norm_dtype(sp[c].dtype), _norm_dtype(od[c].dtype)
        if {a, b} == {"object", "datetime"}:
            # Spark DATE lands as object-of-datetime.date while DuckDB
            # DATE lands as datetime64 — the one skew the driver's
            # canonicalizer provably equates (6 such queries green
            # across rounds 1-2).  Allow exactly this pair.
            obj = sp[c] if a == "object" else od[c]
            cells = obj.dropna()
            if len(cells) and type(cells.iloc[0]).__name__ == "date":
                continue
        if a != b:
            issues.append(f"{c}: spark dtype={sp[c].dtype} oracle dtype={od[c].dtype}")
        elif a == "object":
            sa = sp[c].dropna()
            sb = od[c].dropna()
            if len(sa) and len(sb):
                ta, tb = type(sa.iloc[0]).__name__, type(sb.iloc[0]).__name__
                if ta != tb:
                    issues.append(f"{c}: spark cell type={ta} oracle cell type={tb}")
    return issues


def run_parity(
    spark: SparkSession,
    sf_dir: str,
    only: list[str] | None = None,
) -> list[CompareResult]:
    from . import registry

    qs = registry.queries()
    orc = registry.oracles()
    con = duckdb_connection(sf_dir)
    results: list[CompareResult] = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            if name not in orc:
                n = df.count()
                results.append(
                    CompareResult(name=name, ok=n >= 0, spark_rows=n, detail="rows-only (no oracle)")
                )
                continue
            results.append(compare_query(name, df, orc[name], con))
        except Exception as e:  # surface per-query failures without aborting the sweep
            results.append(CompareResult(name=name, ok=False, detail=f"EXCEPTION: {type(e).__name__}: {e}"))
    return results
