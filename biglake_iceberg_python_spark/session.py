"""SparkSession construction (reference parity: A1/A20/A21 in SURVEY.md §2).

The reference builds its session with an app name, ``spark.network.timeout``,
and a family of ``spark.sql.catalog.*`` confs targeting BigLake Metastore
(reference: pyspark_jobs/iceberg_table_creation.py:88-96, README.md:409-415).
No Iceberg runtime jar ships in this environment, so the portable analog is
Spark's built-in V2 session catalog (``spark_catalog``) with a local warehouse
directory — the same 3-level ``catalog.database.table`` addressing — plus a
snapshot/metadata-log layer (lakehouse/snapshots.py) for the Iceberg metadata
surface (time travel, metadata_log_entries).

Scale notes: AQE is on (runtime re-plan, skew-join splitting, partition
coalescing); on a real cluster ``spark.sql.shuffle.partitions`` should be
sized to ~2-3× total cores with partitions <= ~200 MB — here it tracks local
cores. Arrow is enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULT_APP = "biglake_iceberg_python_spark"


def build_session(
    app_name: str = _DEFAULT_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Defaults target the local test harness (``local[N]``); every conf here is
    equally valid on a 1000-executor cluster except the master and the local
    warehouse path.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    warehouse_dir = warehouse_dir or os.path.join(
        tempfile.gettempdir(), "biglake_spark_warehouse"
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics across engines (DuckDB oracle
        # reads parquet as wall-clock naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting — the first line of defense at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / applyInPandas / mapInPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off: TPC-H-ish queries rely on permissive casts; DuckDB oracle
        # comparisons are built to be cast-explicit anyway.
        .config("spark.sql.ansi.enabled", "false")
        # Managed-table warehouse (the portable analog of the reference's
        # GCS warehouse bucket, README.md:196).
        .config("spark.sql.warehouse.dir", warehouse_dir)
        # Reference parity: the one non-default tuning the reference sets
        # (iceberg_table_creation.py:93).
        .config("spark.network.timeout", "50000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def session_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the ``with`` block, then put every key
    back as it was: its previous value, or unset when it had none — also
    when the block raises."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
