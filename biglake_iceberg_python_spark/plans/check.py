"""Local mirror of the driver's t2 correctness gate.

Runs a registered Spark query and its DuckDB oracle over the same parquet
tables, then compares row count, sorted-by-name schema, and an
order-insensitive value hash. The one runner (:func:`check_query`,
:func:`run_checks`, :func:`report`) serves pytest
(tests/test_oracle_parity.py), the `python -m
biglake_iceberg_python_spark.plans.check` dev CLI, scripts/driver_sim.py
and scripts/degenerate_parity_sweep.py, so oracle drift is caught before
the driver ever sees it.

Normalization is intentionally strict (exact value match after string
canonicalization, no float tolerance): the engine's aggregations are built
to be bit-deterministic (functions/exprs.py), so exactness is achievable
and anything looser would hide drift.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
from pyspark.sql import DataFrame, SparkSession

from biglake_iceberg_python_spark.plans.registry import (
    QuerySpec,
    load_all,
    resolve_oracle,
)
from biglake_iceberg_python_spark.sources.tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register each testdata parquet as a view, as the driver does."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon(v) -> str:
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Shortest round-trip repr (17 sig digits when needed): distinguishes
        # last-ulp drift, so local gates are at least as strict as the driver.
        # Round 4 shipped a driver-red query twice because a 12-sig-digit
        # canon here hid JVM-vs-libm ln() ulp divergence; queries must now be
        # bit-deterministic or quantize/float-cast before emitting doubles.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _rows_to_multiset(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def compare(spark_df: DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    d = con.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()

    result = {
        "rows_spark": len(s_rows),
        "rows_oracle": len(d_rows),
        "cols_spark": sorted(s_cols),
        "cols_oracle": sorted(d_cols),
    }
    result["rows_match"] = len(s_rows) == len(d_rows)
    result["cols_match"] = sorted(s_cols) == sorted(d_cols)
    if result["rows_match"] and result["cols_match"]:
        sm = _rows_to_multiset(s_cols, s_rows)
        dm = _rows_to_multiset(d_cols, d_rows)
        result["values_match"] = sm == dm
        if not result["values_match"]:
            diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            result["first_diffs"] = diff
    else:
        result["values_match"] = False
    result["ok"] = result["rows_match"] and result["cols_match"] and result["values_match"]
    return result


def check_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    spec: QuerySpec,
    sf_dir: str,
) -> dict:
    """Run one registered query and check it; raises on error.

    With an oracle, the result must hash-match it (:func:`compare`).
    Without one (the rows-only tier), every row is collected: ``count()``
    would let Catalyst prune the output columns, so a column that raises
    at runtime would pass unseen."""
    df = spec.fn(spark, sf_dir)
    sql = resolve_oracle(spec, sf_dir)
    if sql is None:
        n = len(df.collect())
        return {"ok": True, "rows_spark": n, "oracle": "rows-only"}
    return compare(df, con, sql)


def report(results: dict[str, dict]) -> bool:
    """Print one ``OK  ``/``FAIL`` line per result and the ``N/M ok``
    summary; True iff every check passed."""
    n_ok = sum(1 for r in results.values() if r.get("ok"))
    for name, r in results.items():
        status = "OK  " if r.get("ok") else "FAIL"
        extra = ""
        if not r.get("ok"):
            extra = " " + str({k: v for k, v in r.items() if k not in ("ok", "sec")})[:400]
        print(f"{status} {name} ({r.get('sec', '?')}s){extra}", flush=True)
    print(f"{n_ok}/{len(results)} ok", flush=True)
    return n_ok == len(results)


def run_checks(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, dict]:
    """:func:`check_query` over ``names`` (default: the whole registry);
    an error is recorded as a failed result so a sweep keeps going."""
    registry = load_all()
    if names is None:
        names = list(registry)
    con = duckdb_connect(sf_dir)
    out: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            out[name] = check_query(spark, con, registry[name], sf_dir)
        except Exception as e:  # keep sweeping; report the failure
            out[name] = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        out[name]["sec"] = round(time.time() - t0, 2)
    return out


def main() -> int:
    from biglake_iceberg_python_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names = sys.argv[1:] or None
    spark = build_session("oracle-check")
    results = run_checks(spark, sf_dir, names)
    return 0 if report(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
