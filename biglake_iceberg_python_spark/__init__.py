"""biglake_iceberg_python_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference repo ``ant-laz/biglake-iceberg-python`` (a Spark+Iceberg lakehouse
demo; see SURVEY.md), widened to the full analytics operator surface the
driver contract demands: relational core (joins/aggs/windows/set ops/scalar
batteries), lakehouse table lifecycle (namespace DDL, managed tables,
insert/overwrite/merge, snapshots + time travel), structured streaming over
the ``events`` table, and LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns).

Design principles (100 TB scale):
  * DataFrame/SQL only — every plan goes through Catalyst; no RDDs.
  * Broadcast small dimensions; shuffle only on join/agg keys; AQE on.
  * Deterministic results: double aggregations run through exact decimal
    sums so output is identical under any partitioning / summation order.
  * Python UDFs only where built-ins cannot express the semantics, and then
    only Arrow-batched (pandas) UDFs.
"""

from biglake_iceberg_python_spark.session import build_session
from biglake_iceberg_python_spark.plans.registry import (
    REGISTRY,
    QuerySpec,
    all_oracle_sql,
    all_queries,
    load_all,
)

__all__ = [
    "build_session",
    "REGISTRY",
    "QuerySpec",
    "all_queries",
    "all_oracle_sql",
    "load_all",
]

__version__ = "0.1.0"
