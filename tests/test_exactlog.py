"""functions/exactlog.py — the by-construction micro-nat tables that
retired the _RAW_ROUND_EXEMPT entries for ml_woe_binning and
events_retention_powerlaw (round-7 verdict #1)."""

from __future__ import annotations

import math

import pytest

from biglake_iceberg_python_spark.functions.exactlog import (
    micro_nat,
    micro_nat_map,
    micro_nat_values_sql,
)


def test_micro_nat_exact_anchors():
    assert micro_nat(1) == 0
    # ln(2) = 0.693147180559945..., 1e6x = 693147.18... -> 693147
    assert micro_nat(2) == 693147
    # ln(10) = 2.302585092994046 -> 2302585.09... -> 2302585
    assert micro_nat(10) == 2302585
    with pytest.raises(ValueError):
        micro_nat(0)


def test_micro_nat_tracks_libm_within_one():
    """Decimal ln and platform libm agree except possibly AT a rounding
    boundary — which is the whole point: the decimal value is the single
    deterministic truth both engines inline."""
    for n in list(range(2, 500)) + [10**6, 10**9, 10**12, 123456789]:
        assert abs(micro_nat(n) - round(1e6 * math.log(n))) <= 1, n


def test_micro_nat_values_sql_roundtrip_duckdb():
    import duckdb

    args = [1, 2, 7, 1500, 10**9]
    sql = f"SELECT n, micro FROM (VALUES {micro_nat_values_sql(args)}) t(n, micro) ORDER BY n"
    got = duckdb.connect().execute(sql).fetchall()
    assert got == [(a, micro_nat(a)) for a in sorted(args)]


def test_micro_nat_map_spark_lookup(spark):
    from pyspark.sql import functions as F

    mp = micro_nat_map([3, 50, 7])
    row = spark.range(1).select(
        mp[F.lit(50).cast("long")].alias("hit"),
        mp[F.lit(999).cast("long")].alias("miss"),
    ).collect()[0]
    assert row["hit"] == micro_nat(50)
    assert row["miss"] is None  # out-of-domain lookups fail the gate loudly


def test_oracle_builders_resolve_per_sf():
    """Data-dependent oracle builders must resolve against the sf they are
    compared at: the literal ln tables derive from that sf's histograms, so
    the generated SQL differs between SFs, and the driver-contract path
    (all_oracle_sql) honors the SPARK_GRAFT_ORACLE_SF_DIR override."""
    import os

    from biglake_iceberg_python_spark.plans.registry import (
        load_all,
        resolve_oracle,
    )

    spec = load_all()["ml_woe_binning"]
    sql_small = resolve_oracle(spec, "/root/testdata/sf0.001")
    sql_mid = resolve_oracle(spec, "/root/testdata/sf0.01")
    assert "ln_tab" in sql_small and "ln(" not in sql_small
    assert sql_small != sql_mid  # histograms differ -> literal tables differ

    from biglake_iceberg_python_spark.plans import registry as reg_mod

    old = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    try:
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = "/root/testdata/sf0.001"
        assert reg_mod.all_oracle_sql()["ml_woe_binning"] == sql_small
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = "/root/testdata/sf0.01"
        assert reg_mod.all_oracle_sql()["ml_woe_binning"] == sql_mid
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_ORACLE_SF_DIR", None)
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = old


def test_micro_nat_ratio_identities():
    """ln(n/1) = ln(n); ln(a/b) = -ln(b/a) exactly under half-away-from-zero
    rounding; ln(n/n) = 0."""
    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat,
        micro_nat_ratio,
    )

    for n in (1, 2, 97, 10**6, 123456789):
        assert micro_nat_ratio(n, 1) == micro_nat(n)
        assert micro_nat_ratio(n, n) == 0
    for a, b in ((3, 7), (1500, 11), (10**9, 997)):
        assert micro_nat_ratio(a, b) == -micro_nat_ratio(b, a)


def test_micro_nat_shift_helpers(spark):
    """The shared shift-keyed literal machinery (round 9): pairs are keyed
    on the RAW value with the shift applied inside micro_nat; empty
    domains get the typed (-1, 0) placeholder; the Spark lookup and the
    DuckDB VALUES twin carry identical integers; map keys/values are LONG
    so corpus-scale counts never downcast."""
    import duckdb

    from biglake_iceberg_python_spark.functions.exactlog import (
        micro_nat,
        micro_nat_shift_lookup,
        micro_nat_shift_pairs,
        micro_nat_shift_values_sql,
    )
    from pyspark.sql import functions as F

    pairs = micro_nat_shift_pairs([5, 1, 5, 12], shift=1)
    assert pairs == [(1, micro_nat(2)), (5, micro_nat(6)), (12, micro_nat(13))]
    assert micro_nat_shift_pairs([], shift=1) == [(-1, 0)]

    # Spark lookup returns the exact literal (incl. a > 2^31 key: the map
    # must be map<long,long>, not map<int,int>).
    big = 3_000_000_000
    bpairs = micro_nat_shift_pairs([big], shift=1)
    df = spark.range(1).select(
        micro_nat_shift_lookup(pairs, F.lit(5).cast("long")).alias("a"),
        micro_nat_shift_lookup(bpairs, F.lit(big).cast("long")).alias("b"),
        micro_nat_shift_lookup(pairs, F.lit(99).cast("long")).alias("miss"),
    )
    r = df.collect()[0]
    assert r["a"] == micro_nat(6)
    assert r["b"] == micro_nat(big + 1)
    assert r["miss"] is None  # out-of-domain -> NULL, fails gates loudly

    # DuckDB twin holds the same integers.
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT * FROM (VALUES {micro_nat_shift_values_sql(pairs)})"
        " t(cv, micro) ORDER BY cv"
    ).fetchall()
    con.close()
    assert [(int(a), int(b)) for a, b in rows] == pairs


@pytest.mark.parametrize(
    "name", ["ml_naive_bayes_langid", "text_lm_perplexity", "curate_dsir_select"]
)
def test_broadcast_lookup_path_matches_oracle(spark, sf_dir, monkeypatch, name):
    """Past MAP_LITERAL_MAX, with_micro_nat_shift broadcast-joins a literal
    table instead of a literal map; forcing that path (limit 0, map lookup
    disabled) keeps every consumer on its oracle."""
    from biglake_iceberg_python_spark.functions import exactlog
    from biglake_iceberg_python_spark.plans.check import check_query, duckdb_connect
    from biglake_iceberg_python_spark.plans.registry import load_all

    def no_map(*_args):
        raise AssertionError("literal-map path taken")

    monkeypatch.setattr(exactlog, "MAP_LITERAL_MAX", 0)
    monkeypatch.setattr(exactlog, "micro_nat_shift_lookup", no_map)
    result = check_query(spark, duckdb_connect(sf_dir), load_all()[name], sf_dir)
    assert result["ok"], result
