"""Lakehouse catalog & table lifecycle — reference parity for SURVEY.md §2
Part A (A1-A8, A13-A14, A19).

The reference drives a 3-level Iceberg namespace on BigLake Metastore:
CREATE NAMESPACE catalog / catalog.db → CREATE TABLE ... USING iceberg →
read parquet → temp view → INSERT INTO ... SELECT *
(reference: pyspark_jobs/iceberg_table_creation.py:52-85, duplicated in
bigquery_stored_procedures/iceberg_stored_procedure.sql:70-100).

No Iceberg runtime jar exists in this environment, so the portable analog is
Spark's built-in session catalog (``spark_catalog.db.table`` — the same
3-level addressing, README.md parity via `spark.sql.warehouse.dir`) with
managed parquet tables. The snapshot/metadata surface Iceberg would provide
(time travel, metadata_log_entries) lives in snapshots.py. On a cluster with
the iceberg-spark-runtime jar, ``TABLE_FORMAT`` flips to "iceberg" and
everything here is unchanged — the DDL surface is format-agnostic.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from biglake_iceberg_python_spark.sources.tables import parquet_schema

# "iceberg" when the runtime jar is on the cluster. Overridable without a
# code change (SPARK_GRAFT_TABLE_FORMAT=iceberg) so the parity claim is one
# env var away from being exercised the day this runs with the jar present;
# tests/test_reference_parity.py has the smoke path, skipping cleanly when
# the jar is absent.
TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def iceberg_available(spark: SparkSession) -> bool:
    """True when iceberg-spark-runtime is on the session's classpath (the
    class the SQL extension registers its catalogs through)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class LakehouseCatalog:
    """Thin, explicit wrapper over Spark catalog DDL (everything is
    ``spark.sql`` — the same statements the reference issues)."""

    def __init__(self, spark: SparkSession, catalog: str = "spark_catalog"):
        self.spark = spark
        self.catalog = catalog

    # -- namespace DDL (reference A2/A3: iceberg_table_creation.py:58,61) --

    def create_namespace(self, db: str) -> None:
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{db}")

    def drop_namespace(self, db: str) -> None:
        self.spark.sql(f"DROP NAMESPACE IF EXISTS {self.catalog}.{db} CASCADE")

    # -- table DDL (reference A4/A5: iceberg_table_creation.py:69-74) --

    def create_table(
        self,
        db: str,
        table: str,
        schema_ddl: str,
        properties: dict[str, str] | None = None,
        partitioned_by: str | None = None,
    ) -> None:
        """CREATE TABLE with declared schema + TBLPROPERTIES.

        ``partitioned_by`` maps to PARTITIONED BY — at 100 TB every fact
        table declares a partition spec (e.g. a date column) so scans prune;
        the reference's table is unpartitioned (its DDL has no PARTITIONED
        BY), which is reproduced by the default.
        """
        props = ""
        if properties:
            kv = ", ".join(f"'{k}'='{v}'" for k, v in properties.items())
            props = f" TBLPROPERTIES({kv})"
        part = f" PARTITIONED BY ({partitioned_by})" if partitioned_by else ""
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._fqn(db, table)} ({schema_ddl}) "
            f"USING {TABLE_FORMAT}{part}{props}"
        )

    def drop_table(self, db: str, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._fqn(db, table)}")

    def set_properties(self, db: str, table: str, properties: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES — the portable analog of the
        reference's Data Catalog PII tag (A19:
        bash_scripts/biglake_create_tbl_and_tag.sh:65-80)."""
        kv = ", ".join(f"'{k}'='{v}'" for k, v in properties.items())
        self.spark.sql(f"ALTER TABLE {self._fqn(db, table)} SET TBLPROPERTIES({kv})")

    def get_properties(self, db: str, table: str) -> DataFrame:
        return self.spark.sql(f"SHOW TBLPROPERTIES {self._fqn(db, table)}")

    # -- ingest (reference A6-A8: iceberg_table_creation.py:77-85) --

    def ingest_parquet(
        self, db: str, table: str, parquet_path: str, columns: list[str]
    ) -> None:
        """read parquet → temp view → INSERT INTO (cols) SELECT * — the
        reference's exact ingest shape, including its implicit positional
        store-assignment casts (SURVEY.md §1.3). The source schema comes
        from the package's schema cache, not a footer inference per call."""
        df = self.spark.read.schema(
            parquet_schema(self.spark, parquet_path)
        ).parquet(parquet_path)
        view = f"temp_view_ingest_{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(view)
        collist = ", ".join(columns)
        try:
            self.spark.sql(
                f"INSERT INTO {self._fqn(db, table)} ({collist}) SELECT * FROM {view}"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    # -- reads (reference A10/A11: notebook cells 7, 9) --

    def table(self, db: str, table: str) -> DataFrame:
        return self.spark.table(self._fqn(db, table))

    def sql_scan(self, db: str, table: str, limit: int = 10) -> DataFrame:
        return self.spark.sql(f"SELECT * FROM {self._fqn(db, table)} LIMIT {limit}")

    # -- introspection (reference A13/A14: notebook cells 4-5) --

    def list_catalogs(self) -> DataFrame:
        return self.spark.sql("SHOW CATALOGS")

    def list_namespaces(self) -> DataFrame:
        return self.spark.sql(f"SHOW NAMESPACES IN {self.catalog}")

    def list_tables(self, db: str) -> DataFrame:
        return self.spark.sql(f"SHOW TABLES IN {self.catalog}.{db}")

    def _fqn(self, db: str, table: str) -> str:
        return f"{self.catalog}.{db}.{table}"


def run_reference_pipeline(
    spark: SparkSession,
    source_parquet: str,
    db: str,
    table: str,
    schema_ddl: str,
    columns: list[str],
) -> DataFrame:
    """End-to-end replica of the reference's pipeline (approach B,
    iceberg_table_creation.py:162-170 launch_pipeline): namespace →
    table DDL (+ the bq_table/bq_connection-style TBLPROPERTIES, here
    generic) → parquet ingest → read back."""
    cat = LakehouseCatalog(spark)
    cat.create_namespace(db)
    cat.create_table(
        db,
        table,
        schema_ddl,
        properties={"ingest": "reference-pipeline", "has_pii": "false"},
    )
    cat.ingest_parquet(db, table, source_parquet, columns)
    return cat.table(db, table)
