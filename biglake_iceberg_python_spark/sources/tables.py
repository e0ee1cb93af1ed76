"""Sources: parquet scans over the driver testdata (reference parity: A6).

The reference's only source is a schema-inferred parquet glob read
(pyspark_jobs/iceberg_table_creation.py:77). Here every query reads the
driver-generated TPC-H-ish tables the same way; CSV/JSON readers live in
``readers.py``.

Scale notes: ``spark.read.parquet`` gives the vectorized columnar reader,
footer-driven schema, predicate pushdown and column pruning for free — at
100 TB the same call reads a partitioned directory tree and Catalyst prunes
partitions from the filters. Nothing here collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Metadata per parquet path, keyed on (path, mtime_ns, size) so a test that
# rewrites its tmp table gets a fresh record: the data files with their
# sizes (listed once), and, filled on first use, the footer-inferred schema
# and whether ``ts`` is TIMESTAMP(NANOS). Schema inference is a DRIVER-side
# footer read costing ~0.1 s per spark.read call and repeated for every
# load of the same immutable testdata file; passing the cached StructType
# skips it. This caches METADATA only — never rows, never query results —
# the same immutability argument as plans/registry.py:_BUILDER_CACHE. At
# 100 TB the analog is the table catalog carrying the schema and file list
# instead of per-query footer sniffing and listing.
_TABLE_META: dict[tuple[str, int, int], dict] = {}


def _table_meta(path: str) -> dict | None:
    """The cache record of the parquet file or directory at ``path``; None
    for globs and missing paths."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _TABLE_META:
        files = [(path, st.st_size)]
        if os.path.isdir(path):
            files = sorted(
                (p, os.path.getsize(p))
                for root, _dirs, names in os.walk(path)
                for p in (os.path.join(root, n) for n in names)
                if p.endswith(".parquet")
            )
        _TABLE_META[key] = {"files": files}
    return _TABLE_META[key]


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet file or directory at ``path``, inferred once
    per (path, mtime, size): the package's one schema cache."""
    meta = _table_meta(path)
    if meta is None:
        # Globs / nonexistent paths: let spark.read raise its own error.
        return spark.read.parquet(path).schema
    if "schema" not in meta:
        meta["schema"] = spark.read.parquet(path).schema
    return meta["schema"]


def ts_is_nanos(path: str) -> bool:
    """Whether the parquet footer at ``path`` stores ``ts`` as
    TIMESTAMP(NANOS), read once per (path, mtime, size); a directory is
    judged by its first data file."""
    meta = _table_meta(path)
    if meta is None:
        return False
    if "ts_nanos" not in meta:
        import pyarrow.parquet as pq

        files = meta["files"]
        t = pq.read_schema(files[0][0]).field("ts").type if files else None
        meta["ts_nanos"] = getattr(t, "unit", None) == "ns"
    return meta["ts_nanos"]


def size_bytes(conf_value: str) -> int:
    """Parse a Spark byte-size conf ('134217728', '128m', '1g', '4MB')."""
    s = conf_value.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _scan_split_estimate(spark: SparkSession, path: str) -> int:
    """Estimated scan split count from the cached file sizes and the
    session's current maxPartitionBytes — the same arithmetic Spark's
    FilePartition packing uses, without the driver-side RDD conversion
    that ``df.rdd.getNumPartitions()`` costs. At 100 TB this is the
    table's file list (on a real catalog table, the file-count
    statistic)."""
    try:
        mpb = size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
    except (TypeError, ValueError):
        mpb = 128 << 20
    meta = _table_meta(path)
    files = meta["files"] if meta else []
    return sum(max(1, -(-size // mpb)) for _, size in files) or 1


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    widen: bool = False,
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """Read one testdata table (vectorized parquet scan, schema from footer).

    ``events.ts`` has shipped in two encodings across driver rounds:
    TIMESTAMP(NANOS) (which Spark 4 refuses by default — read as a
    nanosecond long via the legacy conf and converted with exact integer
    division) and plain TIMESTAMP(MICROS) (read natively). The legacy
    conf is set on the session only when the footer says NANOS, and the
    loader only converts when the column arrives as a bigint, so both
    generations of testdata work unchanged.

    ``widen=True``: repartition to full core count when the scan's natural
    split count is degenerate (the testdata ships single-row-group files, so
    a scan-bound aggregation would otherwise run one-threaded). On real
    multi-row-group / multi-file data the condition never fires and no
    shuffle is added — use it only for scan-dominated aggregations, never
    before a join (the join's own hash exchange would make it a double
    shuffle). ``columns`` (widen only) projects BEFORE the round-robin
    exchange so it carries only the columns the operator reads — on a
    cluster where the condition does fire, the shuffle moves (doc_id,
    text), not the full row (round-13 ADVICE #3).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if widen:
        df = load_table(spark, sf_dir, name)
        if columns:
            df = df.select(*columns)
        cores = spark.sparkContext.defaultParallelism
        if _scan_split_estimate(spark, path) < max(2, cores // 2):
            df = df.repartition(cores)
        return df
    if name == "events":
        if ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP_NTZ via pure epoch arithmetic — NOT
            # timestamp_micros(), whose rendering depends on the session
            # timezone: the driver may run with any local TZ, and the other
            # tables already read as NTZ.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)
