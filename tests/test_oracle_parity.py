"""The local mirror of the driver's t2 gate: every registered query with an
oracle must hash-match DuckDB at sf0.001; rows-only queries must execute
every output column. (SURVEY.md §5 — driver-defined test strategy.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.plans.check import check_query, duckdb_connect
from biglake_iceberg_python_spark.plans.registry import QuerySpec, load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    return duckdb_connect(sf_dir)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(name, spark, sf_dir, oracle_con):
    result = check_query(spark, oracle_con, REGISTRY[name], sf_dir)
    assert result["ok"], {k: v for k, v in result.items() if k != "ok"}


def test_rows_only_gate_executes_output_columns(spark, sf_dir, oracle_con):
    """A rows-only query whose output column raises must fail the gate:
    ``count()`` prunes the column and succeeds, ``collect()`` does not."""

    def raising(spark, sf_dir):
        return spark.range(3).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).alias("x")
        )

    spec = QuerySpec("raising_rows_only", raising, oracle=None)
    assert raising(spark, sf_dir).count() == 3
    with pytest.raises(Exception, match="boom"):
        check_query(spark, oracle_con, spec, sf_dir)
