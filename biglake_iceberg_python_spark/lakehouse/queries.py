"""Registered queries exercising the lakehouse lifecycle end-to-end.

Each query stages its tables in its own ``@scratch`` directory and
namespace and returns a DataFrame whose content is independent of the
side-effect machinery — so the DDL → ingest → read-back loop itself is what
the DuckDB oracle verifies (the oracle reads the same source parquet
directly: if the lifecycle loses or mangles rows, the hash mismatches).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.lakehouse.catalog import (
    LakehouseCatalog,
    run_reference_pipeline,
)
from biglake_iceberg_python_spark.functions.exprs import (
    cents,
    dec,
    dsum,
    oracle_cents,
    oracle_dsum,
)
from biglake_iceberg_python_spark.lakehouse.merge import merge_into
from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable
from biglake_iceberg_python_spark.plans.registry import query, scratch
from biglake_iceberg_python_spark.session import session_conf
from biglake_iceberg_python_spark.sources.tables import load_table


@query(
    "lakehouse_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("lakehouse", "ddl", "ingest"),
)
@scratch
def lakehouse_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The reference pipeline end-to-end (SURVEY.md A2-A8): CREATE NAMESPACE
    → CREATE TABLE (declared schema + TBLPROPERTIES) → parquet → temp view →
    INSERT INTO ... SELECT * → read back. Oracle = the source parquet: a
    lossless lifecycle hash-matches it."""
    df = run_reference_pipeline(
        spark,
        source_parquet=f"{sf_dir}/region.parquet",
        db=os.path.basename(root),
        table="region_managed",
        schema_ddl="r_regionkey INT, r_name STRING",
        columns=["r_regionkey", "r_name"],
    )
    return df.select("r_regionkey", "r_name")


@query(
    "lakehouse_insert_overwrite",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    tags=("lakehouse", "overwrite"),
)
@scratch
def lakehouse_insert_overwrite(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """INSERT OVERWRITE semantics: seed a managed table with 'F' orders,
    overwrite with 'O' orders, read back — surviving rows must be exactly
    the overwrite set."""
    db = os.path.basename(root)
    cat = LakehouseCatalog(spark)
    cat.create_namespace(db)
    cat.create_table(
        db,
        "orders_managed",
        "o_orderkey BIGINT, o_orderstatus STRING, o_orderpriority STRING",
    )
    o = load_table(spark, sf_dir, "orders")
    for verb, status in (("INSERT INTO", "F"), ("INSERT OVERWRITE TABLE", "O")):
        spark.sql(
            f"{verb} spark_catalog.{db}.orders_managed "
            "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM {src} "
            f"WHERE o_orderstatus = '{status}'",
            src=o,
        )
    return (
        cat.table(db, "orders_managed")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "lakehouse_merge_upsert",
    oracle="""
    WITH t AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    ), s AS (
      SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT
      COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
      COALESCE(s.c_name, t.c_name) AS c_name,
      CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
           ELSE t.c_acctbal END AS c_acctbal
    FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
    """,
    tags=("lakehouse", "merge"),
)
def lakehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert): target = even custkeys, source = custkeys
    divisible by 3 with +1000 balance. Matched rows take the source balance,
    unmatched source rows are inserted, other target rows pass through —
    the full-outer-join re-expression from lakehouse/merge.py."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    target = c.filter(F.col("c_custkey") % 2 == 0)
    source = c.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000
    )
    return merge_into(target, source, on=["c_custkey"])


@query(
    "lakehouse_delete_where",
    oracle=f"""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    -- IS NOT TRUE, not NOT(..): DELETE removes only rows where the
    -- predicate is TRUE, so a NULL-price row SURVIVES — NOT(NULL) would
    -- wrongly exclude it from the oracle scan
    WHERE (o_totalprice < 100000) IS NOT TRUE
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "delete", "row-level"),
)
@scratch
def lakehouse_delete_where(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Row-level DELETE FROM … WHERE (Iceberg v2 copy-on-write delete):
    commit orders, delete every order under 100k, and return the per-status
    rollup of the survivors — which must equal the oracle's NOT-predicate
    scan of the source. The pre-delete snapshot must stay readable by time
    travel (asserted in-query); pytest also pins null-predicate semantics.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = SnapshotTable(spark, root)
    v1 = t.write(o, mode="append")
    n_before = t.read(v1).count()
    t.delete_where(F.col("o_totalprice") < 100000)
    # Iceberg contract: row-level deletes never mutate history.
    if t.read(v1).count() != n_before:
        raise AssertionError("pre-delete snapshot was mutated")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "lakehouse_update_where",
    oracle=f"""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      {oracle_dsum("CASE WHEN o_orderstatus = 'O' "
                   "THEN o_totalprice + 100000 ELSE o_totalprice END")}
        AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "update", "row-level"),
)
@scratch
def lakehouse_update_where(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Row-level UPDATE … SET … WHERE (Iceberg v2 copy-on-write update):
    commit orders, add 100k to every open order's total, return the
    per-status rollup — open orders must carry the shifted sum, all other
    rows must pass through bit-identical (their groups hash-match the
    untouched source). IEEE double addition is exactly rounded with
    identical operand order on both engines, so even the updated sums
    hash-match without decimal staging.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = SnapshotTable(spark, root)
    t.write(o, mode="append")
    t.update_where(
        F.col("o_orderstatus") == "O",
        {"o_totalprice": F.col("o_totalprice") + 100000},
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "lakehouse_time_travel",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS BIGINT)
        AS v1_rows,
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus IN ('F','O')) AS BIGINT)
        AS v2_rows,
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'P') AS BIGINT)
        AS v3_rows
    """,
    tags=("lakehouse", "snapshots", "time-travel"),
)
@scratch
def lakehouse_time_travel(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Snapshot commits + time travel (the Iceberg metadata surface the
    reference inspects — SURVEY.md A12): v1 append 'F' orders, v2 append
    'O' orders, v3 overwrite with 'P' orders; read each version by id.
    Row counts per version must equal the source-side filters."""
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    v1 = t.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    v2 = t.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    v3 = t.write(o.filter(F.col("o_orderstatus") == "P"), mode="overwrite")
    return spark.range(1).select(
        F.lit(t.read(v1).count()).cast("long").alias("v1_rows"),
        F.lit(t.read(v2).count()).cast("long").alias("v2_rows"),
        F.lit(t.read(v3).count()).cast("long").alias("v3_rows"),
    )


@query(
    "lakehouse_metadata_log",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'append',    1, CAST(0 AS INTEGER)),
      (2, 'append',    2, CAST(0 AS INTEGER)),
      (3, 'overwrite', 1, CAST(1 AS INTEGER))
    ) AS t(snapshot_id, operation, n_data_dirs, is_current)
    """,
    tags=("lakehouse", "snapshots", "metadata"),
)
@scratch
def lakehouse_metadata_log(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """metadata_log_entries scan (reference notebook cell 11): after
    append/append/overwrite the log must show the lineage — dir counts grow
    under append and reset under overwrite; only the last entry is current."""
    n = load_table(spark, sf_dir, "nation")
    t = SnapshotTable(spark, root)
    t.write(n.filter(F.col("n_nationkey") < 10), mode="append")
    t.write(n.filter(F.col("n_nationkey") >= 10), mode="append")
    t.write(n.filter(F.col("n_regionkey") == 0), mode="overwrite")
    return t.metadata_log_entries().select(
        "snapshot_id",
        "operation",
        "n_data_dirs",
        F.col("is_current").cast("int").alias("is_current"),
    )


@query(
    "lakehouse_tblproperties",
    oracle="""
    SELECT * FROM (VALUES
      ('has_pii', 'false'),
      ('steward', 'data-eng'),
      ('retention_days', '90')
    ) AS t(key, value)
    """,
    tags=("lakehouse", "ddl", "governance"),
)
@scratch
def lakehouse_tblproperties(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Governance tags as table properties (the portable analog of the
    reference's Data Catalog has_pii tag — SURVEY.md A19): ALTER TABLE SET
    TBLPROPERTIES then read back via SHOW TBLPROPERTIES."""
    db = os.path.basename(root)
    cat = LakehouseCatalog(spark)
    cat.create_namespace(db)
    cat.create_table(db, "tagged", "id INT", properties={"has_pii": "false"})
    cat.set_properties(db, "tagged", {"steward": "data-eng", "retention_days": "90"})
    return cat.get_properties(db, "tagged").filter(
        F.col("key").isin("has_pii", "steward", "retention_days")
    )


@query(
    "lakehouse_catalog_introspection",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS has_spark_catalog,
           CAST(1 AS BIGINT) AS n_namespaces_matched,
           CAST(2 AS BIGINT) AS n_tables
    """,
    tags=("lakehouse", "introspection"),
)
@scratch
def lakehouse_catalog_introspection(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """SHOW CATALOGS / NAMESPACES / TABLES (reference notebook cells 4-5,
    A13-A14): create a namespace with two tables, list them, count both
    levels. Every output is deterministic (membership checks, not raw
    listing counts — other sessions may register extra catalogs), so the
    result pins to a constant oracle instead of a rows-only check."""
    db = os.path.basename(root)
    cat = LakehouseCatalog(spark)
    cat.create_namespace(db)
    cat.create_table(db, "t1", "id INT")
    cat.create_table(db, "t2", "id INT")
    has_spark_catalog = (
        cat.list_catalogs().filter(F.col("catalog") == "spark_catalog").count()
    )
    n_namespaces = cat.list_namespaces().filter(F.col("namespace") == db).count()
    # SHOW TABLES also lists the SESSION's temp views (isTemporary,
    # namespace '') — count only the namespace's real tables, or a
    # shared session (pytest) breaks determinism.
    n_tables = cat.list_tables(db).filter(~F.col("isTemporary")).count()
    return spark.range(1).select(
        F.lit(has_spark_catalog).cast("long").alias("has_spark_catalog"),
        F.lit(n_namespaces).cast("long").alias("n_namespaces_matched"),
        F.lit(n_tables).cast("long").alias("n_tables"),
    )


@query(
    "lakehouse_bucketed_join",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lines,
           {oracle_dsum('l.l_quantity')} AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("lakehouse", "bucketing", "join"),
)
@scratch
def lakehouse_bucketed_join(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Bucketed co-located join: both fact tables written bucketBy(8,
    orderkey) as managed tables, then joined WITHOUT a shuffle on either
    side — Spark recognizes the matching bucketing and plans a local
    sort-merge per bucket.

    This is the pre-shuffle pattern for 100 TB fact⋈fact joins: pay the
    partitioning once at write time, amortize over every subsequent join.
    tests/test_plans.py asserts the no-Exchange property of this plan.
    """
    db = os.path.basename(root)
    LakehouseCatalog(spark).create_namespace(db)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        f"{db}.orders_bkt"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        f"{db}.lineitem_bkt"
    )
    ob = spark.table(f"{db}.orders_bkt")
    lb = spark.table(f"{db}.lineitem_bkt")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity", "sum_qty"),
        )
    )


@query(
    "lakehouse_compaction",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "compaction", "maintenance"),
)
@scratch
def lakehouse_compaction(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Small-file compaction (the Iceberg rewrite_data_files analog): three
    fragmented append snapshots are rewritten into one coalesced overwrite
    snapshot; row content must be byte-identical to the source.

    Small files are the silent killer at 100 TB (per-file open cost, tiny
    row groups, metadata bloat); periodic compaction keeps scan throughput
    at sequential-read speed. The rewrite is a distributed read→repartition
    →write; only the metadata swap is driver-side.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    # Three fragmented appends, split by key hash: hash thirds cover
    # EVERY row, NULL-status rows included.
    for i in range(3):
        t.write(
            o.filter(F.pmod(F.hash("o_orderkey"), 3) == i).repartition(6),
            mode="append",
        )
    before = t.read()
    compacted_id = t.write(before.coalesce(2), mode="overwrite")
    log = {r["snapshot_id"]: r for r in t.metadata_log_entries().collect()}
    assert log[compacted_id]["n_data_dirs"] == 1
    return (
        t.read(compacted_id)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "lakehouse_schema_evolution",
    oracle=f"""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS o_channel
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'web' AS o_channel
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT
      COALESCE(o_channel, 'unknown') AS channel,
      COUNT(*) AS n,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM unioned
    GROUP BY COALESCE(o_channel, 'unknown')
    """,
    tags=("lakehouse", "schema-evolution"),
)
@scratch
def lakehouse_schema_evolution(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Schema evolution (Iceberg's flagship DDL: ALTER TABLE ADD COLUMN):
    write generation 1 without the column, ALTER TABLE ADD COLUMNS, append
    generation 2 with it — reads see the union schema with generation-1
    rows NULL for the new column, no rewrite of old files.

    This is the portable analog of Iceberg metadata-level evolution
    (reference: README.md's Iceberg schema section): Spark's managed-table
    ALTER updates catalog metadata only; existing parquet files are
    schema-projected at read time. At 100 TB that property — O(1) DDL, no
    data migration — is the reason to run a table format at all.
    """
    db = os.path.basename(root)
    cat = LakehouseCatalog(spark)
    cat.create_namespace(db)
    cat.create_table(db, "orders_evolving", "o_orderkey BIGINT, o_totalprice DOUBLE")
    o = load_table(spark, sf_dir, "orders")
    spark.sql(
        f"INSERT INTO spark_catalog.{db}.orders_evolving "
        "SELECT o_orderkey, o_totalprice FROM {src} WHERE o_orderstatus = 'F'",
        src=o,
    )
    spark.sql(
        f"ALTER TABLE spark_catalog.{db}.orders_evolving "
        "ADD COLUMNS (o_channel STRING)"
    )
    spark.sql(
        f"INSERT INTO spark_catalog.{db}.orders_evolving "
        "SELECT o_orderkey, o_totalprice, 'web' AS o_channel FROM {src} "
        "WHERE o_orderstatus = 'O'",
        src=o,
    )
    return (
        cat.table(db, "orders_evolving")
        .groupBy(F.coalesce(F.col("o_channel"), F.lit("unknown")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "lakehouse_incremental_read",
    oracle=f"""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderstatus IN ('O', 'P')
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "snapshots", "incremental", "cdc"),
)
@scratch
def lakehouse_incremental_read(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Incremental (CDC-style) append scan: after three append commits,
    read ONLY the rows added after the first snapshot — the Iceberg
    ``start-snapshot-id``/``end-snapshot-id`` consumption pattern that
    feeds downstream incremental pipelines without rescanning the table.

    The scan cost is proportional to the delta (only the added data
    directories are read); the rollup proves the delta is exactly the
    v2+v3 rows. Overwrites in the range are rejected, as in Iceberg.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    v1 = t.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    t.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    v3 = t.write(o.filter(F.col("o_orderstatus") == "P"), mode="append")
    delta = t.read_incremental(v1, v3)
    return delta.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
    )


@query(
    "lakehouse_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, text, source FROM documents
    ), v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 23 = 0 THEN text || ' [rev2]' ELSE text END
               AS text,
             source
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000, 'new in v2 ' || CAST(doc_id AS VARCHAR), source
      FROM documents WHERE doc_id % 29 = 0
    ), j AS (
      SELECT COALESCE(v1.source, v2.source) AS source,
             CASE WHEN v2.doc_id IS NULL THEN 'deleted'
                  WHEN v1.doc_id IS NULL THEN 'inserted'
                  WHEN v1.text <> v2.text THEN 'updated'
                  ELSE 'unchanged' END AS change_type
      FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT change_type, source, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM j WHERE change_type <> 'unchanged'
    GROUP BY change_type, source
    """,
    tags=("lakehouse", "snapshots", "cdc", "diff"),
    bench=True,
)
@scratch
def lakehouse_snapshot_diff(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Row-level diff between two table snapshots — the dataset-versioning
    audit: after a deterministic edit script (delete doc_id%17, revise
    doc_id%23, insert a row per doc_id%29), time-travel both versions and
    classify every key as deleted / inserted / updated, counted per source.

    The edits run through the real snapshot machinery (COW delete_where /
    update_where / append — `lakehouse/snapshots.py`), so this query is an
    end-to-end check that time travel preserves pre-edit state; the oracle
    recomputes both versions purely in SQL from the edit rules.

    Scale shape: each side projects to (key, xxhash64(text)) BEFORE the
    full-outer diff join, so the shuffle carries 16 bytes of content per
    row instead of document bodies — diffing two 100 TB snapshots moves
    only keys + fingerprints; bodies are never compared, only their
    hashes. (Equal hashes ⇒ unchanged, modulo 64-bit collision — the
    standard audit trade.)
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    t = SnapshotTable(spark, root)
    v1 = t.write(d, mode="append")
    t.delete_where(F.col("doc_id") % 17 == 0)
    t.update_where(
        F.col("doc_id") % 23 == 0,
        {"text": F.concat(F.col("text"), F.lit(" [rev2]"))},
    )
    inserts = d.filter(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new in v2 "), F.col("doc_id").cast("string"))
        .alias("text"),
        "source",
    )
    t.write(inserts, mode="append")
    old = t.read(v1).select(
        F.col("doc_id").alias("k1"),
        F.xxhash64("text").alias("h1"),
        F.col("source").alias("s1"),
    )
    new = t.read().select(
        F.col("doc_id").alias("k2"),
        F.xxhash64("text").alias("h2"),
        F.col("source").alias("s2"),
    )
    return (
        old.join(new, old.k1 == new.k2, "full_outer")
        .select(
            F.coalesce("s1", "s2").alias("source"),
            F.when(F.col("k2").isNull(), "deleted")
            .when(F.col("k1").isNull(), "inserted")
            .when(F.col("h1") != F.col("h2"), "updated")
            .otherwise("unchanged")
            .alias("change_type"),
        )
        .filter(F.col("change_type") != "unchanged")
        .groupBy("change_type", "source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "lakehouse_partition_evolution",
    oracle=f"""
    SELECT
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    tags=("lakehouse", "partitioning", "hidden", "prune", "evolution"),
)
@scratch
def lakehouse_partition_evolution(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Partition-spec evolution (Iceberg's no-rewrite re-partitioning):
    history is written under a years(o_orderdate) spec, the spec then
    evolves to months(o_orderdate) — a metadata-only change — and new data
    lands in the finer layout. A date-range query straddling the spec
    boundary prunes the old files by YEAR and the new files by MONTH, and
    the union of the two pruned scans must equal the plain range query
    over raw orders (spec granularity is invisible in results).

    At 100 TB this is the only viable way to change a table's layout:
    rewriting the history is off the table, so the spec is versioned and
    pruning is resolved per-file against the spec that wrote it
    (`partitioning.py SpecEvolvedTable`; per-spec PartitionFilters
    asserted in tests/test_plans.py).
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = "o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"
    from biglake_iceberg_python_spark.lakehouse.partitioning import (
        MonthsTransform,
        SpecEvolvedTable,
        YearsTransform,
    )

    t = SpecEvolvedTable(spark, root)
    t.evolve(YearsTransform("o_orderdate"))
    t.write(o.filter(cutoff))
    t.evolve(MonthsTransform("o_orderdate"))
    t.write(o.filter(f"NOT ({cutoff})"))
    return (
        t.scan_range("1995-07-01", "1996-07-01")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "lakehouse_hidden_partitioning",
    oracle=f"""
    SELECT
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-03-15 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-09-15 00:00:00'
    GROUP BY o_orderpriority
    """,
    tags=("lakehouse", "partitioning", "hidden", "prune"),
)
@scratch
def lakehouse_hidden_partitioning(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Iceberg-style hidden partitioning end-to-end: write orders
    partitioned by the engine-derived months(o_orderdate) transform, then
    answer a date-range query naming ONLY o_orderdate — the engine projects
    the range into a partition predicate (199803..199809), prunes to 7 of
    ~80 month directories, and applies the exact row filter after.

    This exercises the piece of the Iceberg contract the plain
    SnapshotTable emulation doesn't: predicates on the source column prune
    partitions the user never declared or named
    (`lakehouse/partitioning.py`; tests assert every file read lies inside
    the projected months). The oracle is the same range query over raw
    orders — pruning must be invisible in the result.
    """
    o = load_table(spark, sf_dir, "orders")
    from biglake_iceberg_python_spark.lakehouse.partitioning import (
        MonthsTransform,
        SpecEvolvedTable,
    )

    t = SpecEvolvedTable(spark, root)
    t.evolve(MonthsTransform("o_orderdate"))
    t.write(o)
    return (
        t.scan_range("1998-03-15", "1998-09-15")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "lakehouse_manifest_pruning",
    oracle=f"""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-09-01 00:00:00'
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "snapshots", "stats", "prune"),
)
@scratch
def lakehouse_manifest_pruning(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Manifest-level min/max pruning: orders land as four year-sliced
    append commits, each commit's parquet-footer min/max riding the
    metadata log (the manifest role); a date-range scan then opens ONLY
    the commits whose [min, max] overlaps the range — the others are
    skipped at planning time, before any footer or data I/O.

    This is the third leg of the Iceberg metadata contract alongside
    hidden partitioning and optimistic commits: stats-based file skipping
    (`snapshots.py scan_where`). tests/test_plans.py asserts the pruned
    scan's input files all come from the one overlapping commit. The
    oracle is the same range query over raw orders — pruning must be
    invisible in the result.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    y = F.year("o_orderdate")
    for lo, hi in [(0, 1996), (1996, 1997), (1997, 1998), (1998, 9999)]:
        t.write(o.filter((y >= lo) & (y < hi)), mode="append")
    return (
        t.scan_where(
            "o_orderdate", "1997-03-01T00:00:00", "1997-09-01T00:00:00"
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "lakehouse_expire_snapshots",
    oracle=f"""
    SELECT
      CAST(3 AS BIGINT) AS expired,
      CAST(3 AS BIGINT) AS dirs_removed,
      CAST(1 AS BIGINT) AS n_snapshots,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("lakehouse", "snapshots", "maintenance", "expire"),
)
@scratch
def lakehouse_expire_snapshots(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Snapshot expiry (Iceberg ``expireSnapshots``): three appends and a
    COW overwrite leave four snapshots; expiring to the newest one must
    drop all three append entries AND physically remove their three data
    directories (the overwrite made them unreferenced), while the current
    state stays byte-identical — proven by hash-matching the oracle's
    direct computation of that state.

    The expiry accounting (expired / dirs_removed / n_snapshots) is part
    of the result row, so the oracle pins the metadata contract, not just
    the surviving data. Storage reclamation at 100 TB is this exact
    operation run by a table-maintenance job; the orphan sweep is
    O(dropped dirs) driver-side metadata + deletes, never a data scan.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    for s in ("O", "P", "F"):
        t.write(o.filter(F.col("o_orderstatus") == s), mode="append")
    t.write(o.filter(F.col("o_orderstatus") == "F"), mode="overwrite")
    acct = t.expire_snapshots(keep_last=1)
    state = t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "sum_price"),
    )
    return state.select(
        F.lit(acct["expired"]).cast("bigint").alias("expired"),
        F.lit(acct["dirs_removed"]).cast("bigint").alias("dirs_removed"),
        F.lit(len(t._read_log())).cast("bigint").alias("n_snapshots"),
        "n_rows",
        "sum_price",
    )


def _zorder_oracle() -> str:
    """DuckDB twin of the Z-order layout accounting below — the 8+8-bit
    interleave unrolled as explicit shift/mask arithmetic."""
    q8 = (
        "CAST(LEAST(GREATEST(FLOOR((CAST({x} AS DOUBLE) - {lo}) / "
        "(({hi} - {lo}) / 255.0) + 0.5), 0), 255) AS INTEGER)"
    )
    p8 = q8.format(x="l_partkey", lo="s.plo", hi="s.phi")
    s8 = q8.format(x="l_suppkey", lo="s.slo", hi="s.shi")
    interleave = " + ".join(
        f"(((p8 >> {d}) & 1) << {2 * d + 1}) + (((s8 >> {d}) & 1) << {2 * d})"
        for d in range(8)
    )
    return f"""
    WITH s AS (
      SELECT CAST(MIN(l_partkey) AS DOUBLE) AS plo,
             CAST(MAX(l_partkey) AS DOUBLE) AS phi,
             CAST(MIN(l_suppkey) AS DOUBLE) AS slo,
             CAST(MAX(l_suppkey) AS DOUBLE) AS shi
      FROM lineitem
    ), box AS (
      SELECT s.plo + 0.55 * (s.phi - s.plo) AS p1,
             s.plo + 0.80 * (s.phi - s.plo) AS p2,
             s.slo + 0.25 * (s.shi - s.slo) AS q1,
             s.slo + 0.45 * (s.shi - s.slo) AS q2
      FROM s
    ), coded AS (
      SELECT l.*, {p8} AS p8, {s8} AS s8 FROM lineitem l CROSS JOIN s
    ), z AS (
      SELECT *, ({interleave}) >> 10 AS file_id FROM coded
    ), files AS (
      SELECT file_id,
             MIN(CAST(l_partkey AS DOUBLE)) AS flo_p,
             MAX(CAST(l_partkey AS DOUBLE)) AS fhi_p,
             MIN(CAST(l_suppkey AS DOUBLE)) AS flo_s,
             MAX(CAST(l_suppkey AS DOUBLE)) AS fhi_s
      FROM z GROUP BY file_id
    ), acct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_files_total,
             CAST(SUM(CASE WHEN f.fhi_p >= b.p1 AND f.flo_p <= b.p2
                            AND f.fhi_s >= b.q1 AND f.flo_s <= b.q2
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned
      FROM files f CROSS JOIN box b
    ), hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             {oracle_dsum("l_extendedprice * (1 - l_discount)")} AS sum_revenue
      FROM lineitem l CROSS JOIN box b
      WHERE CAST(l.l_partkey AS DOUBLE) BETWEEN b.p1 AND b.p2
        AND CAST(l.l_suppkey AS DOUBLE) BETWEEN b.q1 AND b.q2
    )
    SELECT a.n_files_total, a.n_files_scanned, h.n_rows, h.sum_revenue
    FROM acct a CROSS JOIN hits h
    """


def zorder_envelope_keep(table: DataFrame, box: DataFrame) -> DataFrame:
    """Distributed manifest-pruning decision: per-file min/max envelopes
    (one exchange on file_id) against a broadcast 1-row query box →
    ``(file_id, keep)``. Kept as a named helper so the plan test can pin
    the shape: the envelope table never exceeds one shuffle, and the box
    arrives by broadcast — at 100 TB file counts nothing O(n_files) ever
    crosses to the driver from here."""
    return (
        table.groupBy("file_id")
        .agg(
            F.min("l_partkey").cast("double").alias("flo_p"),
            F.max("l_partkey").cast("double").alias("fhi_p"),
            F.min("l_suppkey").cast("double").alias("flo_s"),
            F.max("l_suppkey").cast("double").alias("fhi_s"),
        )
        .crossJoin(F.broadcast(box))
        .select(
            "file_id",
            (
                (F.col("fhi_p") >= F.col("p1"))
                & (F.col("flo_p") <= F.col("p2"))
                & (F.col("fhi_s") >= F.col("q1"))
                & (F.col("flo_s") <= F.col("q2"))
            ).alias("keep"),
        )
    )


@query(
    "lakehouse_zorder_layout",
    oracle=_zorder_oracle(),
    tags=("lakehouse", "zorder", "layout", "prune", "maintenance"),
)
@scratch
def lakehouse_zorder_layout(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Z-order data layout (Iceberg/Delta ``OPTIMIZE ... ZORDER BY``):
    cluster lineitem files on the bit-interleave of (l_partkey, l_suppkey)
    so a 2-D box predicate prunes files on BOTH dimensions at once — a
    linear sort order can only ever prune one.

    The rewrite quantizes each key to 8 bits against its corpus [min, max]
    (one broadcast stats row), interleaves to a 16-bit Z-value in pure
    codegen bit arithmetic, and writes the table hive-partitioned on the
    top 6 Z-bits (64 files, an 8x8 grid over the two keys' high bits).
    The read side computes per-file min/max envelopes (the manifest role)
    as a DISTRIBUTED DataFrame — one exchange on file_id — joins the query
    box in as a broadcast 1-row table, and the driver collects only the
    keep-list plus a 2-scalar accounting row, never the O(n_files)
    envelope rows. At 100 TB file counts the envelope table is itself big
    data; only the surviving file ids (bounded by the query's selectivity)
    ever cross to the driver, which then drives ordinary static partition
    pruning. This mirrors where Iceberg distributes manifest planning for
    large tables.

    Returned accounting (n_files_scanned of n_files_total) plus the box
    aggregate are BOTH oracle-checked: DuckDB recomputes the identical
    interleave arithmetic, so the file-skipping ratio itself is pinned, not
    just the query answer. At 100 TB this is a maintenance rewrite whose
    read-side benefit is (scanned/total) of the I/O for every 2-D query.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # One scan for corpus stats; checkpointed because three consumers
    # (rewrite coding, box derivation, row filter) would each re-derive it.
    stats = li.agg(
        F.min("l_partkey").cast("double").alias("plo"),
        F.max("l_partkey").cast("double").alias("phi"),
        F.min("l_suppkey").cast("double").alias("slo"),
        F.max("l_suppkey").cast("double").alias("shi"),
    ).localCheckpoint(eager=True)

    def _q8(x: Column, lo: Column, hi: Column) -> Column:
        return (
            F.least(
                F.greatest(
                    F.floor((x - lo) / ((hi - lo) / F.lit(255.0)) + F.lit(0.5)),
                    F.lit(0),
                ),
                F.lit(255),
            )
        ).cast("int")

    coded = li.crossJoin(F.broadcast(stats)).withColumns(
        {
            "p8": _q8(F.col("l_partkey").cast("double"), F.col("plo"), F.col("phi")),
            "s8": _q8(F.col("l_suppkey").cast("double"), F.col("slo"), F.col("shi")),
        }
    )
    z = F.lit(0)
    for d in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(F.col("p8"), d).bitwiseAND(F.lit(1)), 2 * d + 1)
            + F.shiftleft(F.shiftright(F.col("s8"), d).bitwiseAND(F.lit(1)), 2 * d)
        )
    zed = coded.withColumn("file_id", F.shiftright(z, 10))

    (
        zed.drop("plo", "phi", "slo", "shi", "p8", "s8")
        .write.partitionBy("file_id")
        .parquet(root, mode="overwrite")
    )
    # Schema pinned from the written frame — file inference fails on
    # a 0-row write.
    table = spark.read.schema(
        zed.drop("plo", "phi", "slo", "shi", "p8", "s8").schema
    ).parquet(root)

    # The query box as a broadcast 1-row table (derived from stats,
    # never collected per-file).
    box = stats.select(
        (F.col("plo") + 0.55 * (F.col("phi") - F.col("plo"))).alias("p1"),
        (F.col("plo") + 0.80 * (F.col("phi") - F.col("plo"))).alias("p2"),
        (F.col("slo") + 0.25 * (F.col("shi") - F.col("slo"))).alias("q1"),
        (F.col("slo") + 0.45 * (F.col("shi") - F.col("slo"))).alias("q2"),
    )

    # Planning-time metadata, distributed: per-file envelopes stay in a
    # DataFrame; the intersect decision is a broadcast box join.
    # (n_files rows; checkpointed because it is read twice below.)
    env_keep = zorder_envelope_keep(table, box).localCheckpoint(
        eager=True
    )
    acct = env_keep.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
    ).collect()[0]
    # Only the SURVIVING file ids cross to the driver.
    keep = [r["file_id"] for r in env_keep.filter("keep").collect()]

    return (
        table.filter(F.col("file_id").isin(keep))  # partition pruning
        .crossJoin(F.broadcast(box))
        .filter(
            F.col("l_partkey").cast("double").between(
                F.col("p1"), F.col("p2")
            )
            & F.col("l_suppkey").cast("double").between(
                F.col("q1"), F.col("q2")
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "sum_revenue",
            ),
        )
        .select(
            F.lit(acct["n_total"]).cast("bigint").alias("n_files_total"),
            F.lit(acct["n_keep"]).cast("bigint").alias("n_files_scanned"),
            "n_rows",
            "sum_revenue",
        )
    )


@query(
    "lakehouse_branch_tags",
    oracle="""
    SELECT
      CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('F', 'O')) AS BIGINT)
        AS main_rows,
      CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
        AS tag_rows,
      CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('F', 'P')) AS BIGINT)
        AS branch_rows,
      CAST(3 AS BIGINT) AS n_refs
    FROM orders
    """,
    tags=("lakehouse", "branch", "tag", "refs"),
)
@scratch
def lakehouse_branch_tags(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Iceberg-style branches and tags on the snapshot layer (the refs
    surface: ``CREATE TAG`` / ``CREATE BRANCH`` / write-to-ref /
    ``VERSION AS OF 'ref'``): v1 holds 'F' orders and gets tag ``v1`` and
    branch ``audit``; main then appends 'O' orders while the branch
    appends 'P' orders — write-audit-publish, where validation work
    commits on a branch without touching what readers of main see.

    The assertions ARE the row counts: main = F+O (never sees the branch
    commit), the tag stays pinned at F forever, the branch = F+P (forked
    before main advanced). The oracle derives all three from the source
    table's status filters — if branch isolation leaked commits across
    lines of history, the counts would mismatch. Refs are named pointers
    in the metadata (O(1) driver-side), exactly Iceberg's model; data
    files are shared across branches, never copied.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    t.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    t.create_tag("v1")
    t.create_branch("audit")
    t.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    t.write(
        o.filter(F.col("o_orderstatus") == "P"),
        mode="append",
        branch="audit",
    )
    return spark.range(1).select(
        F.lit(t.read_ref("main").count()).cast("long").alias("main_rows"),
        F.lit(t.read_ref("v1").count()).cast("long").alias("tag_rows"),
        F.lit(t.read_ref("audit").count()).cast("long").alias("branch_rows"),
        F.lit(t.refs_entries().count()).cast("long").alias("n_refs"),
    )


@query(
    "lakehouse_scd2_dimension",
    oracle="""
    WITH cust AS (
      -- keyless rows cannot be SCD-tracked and also sit exactly on the
      -- NOT-IN-vs-anti-join 3VL divergence: both
      -- engines dead-letter them before versioning
      SELECT * FROM customer WHERE c_custkey IS NOT NULL
    ), chg AS (
      SELECT c_custkey FROM cust WHERE c_custkey % 7 = 0
    )
    SELECT
      seg.c_mktsegment,
      CAST(COUNT(*) FILTER (WHERE seg.is_current) AS BIGINT) AS n_current,
      CAST(COUNT(*) FILTER (WHERE NOT seg.is_current) AS BIGINT) AS n_history
    FROM (
      -- unchanged customers: one current v1 row
      SELECT c.c_mktsegment, TRUE AS is_current
      FROM cust c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM chg)
      UNION ALL
      -- changed customers: closed-out v1 row under the OLD segment...
      SELECT c.c_mktsegment, FALSE
      FROM cust c WHERE c.c_custkey IN (SELECT c_custkey FROM chg)
      UNION ALL
      -- ...plus a current v2 row under the NEW segment
      SELECT 'RELOCATED', TRUE
      FROM cust c WHERE c.c_custkey IN (SELECT c_custkey FROM chg)
    ) seg
    GROUP BY seg.c_mktsegment
    """,
    tags=("lakehouse", "scd2", "dimension"),
)
@scratch
def lakehouse_scd2_dimension(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 maintenance: apply a change batch
    to a versioned dimension by CLOSING the old row (is_current=false,
    valid_to set) and INSERTING the new version, preserving full history —
    the warehouse pattern behind as-of dimension joins. The change batch
    is derived deterministically (every 7th customer relocates to segment
    'RELOCATED') so both engines build the identical batch.

    The whole transition is one dataflow committed as one COW overwrite
    snapshot on SnapshotTable (time travel keeps the pre-change dimension
    readable); the rollup reports current vs history rows per segment.
    Scale shape: changed keys broadcast into the dimension scan (changes
    ≪ dimension), the union is map-side, one accounting shuffle.
    """
    # keyless rows dead-lettered — see the oracle CTE note
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    chg = c.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    v1, v2 = F.lit(1), F.lit(2)
    unchanged = c.join(F.broadcast(chg), "c_custkey", "left_anti").select(
        "c_custkey",
        "c_mktsegment",
        v1.alias("version"),
        v1.alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = c.join(F.broadcast(chg), "c_custkey").select(
        "c_custkey",
        "c_mktsegment",
        v1.alias("version"),
        v1.alias("valid_from"),
        v2.cast("int").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = c.join(F.broadcast(chg), "c_custkey").select(
        "c_custkey",
        F.lit("RELOCATED").alias("c_mktsegment"),
        v2.alias("version"),
        v2.alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim = unchanged.unionByName(closed).unionByName(opened)
    t = SnapshotTable(spark, root)
    t.write(dim, mode="overwrite")
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.when(F.col("is_current"), 1)).alias("n_current"),
            F.count(F.when(~F.col("is_current"), 1)).alias("n_history"),
        )
    )


@query(
    "lakehouse_cdc_apply",
    oracle=f"""
    WITH base AS (
      SELECT * FROM orders WHERE o_orderstatus = 'F'
    ), applied AS (
      -- surviving base rows: deletes removed, updates applied
      SELECT
        o_orderpriority,
        CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS price
      FROM base WHERE o_orderkey % 10 <> 0
      UNION ALL
      -- inserts: the 'P' orders arrive as new rows
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderstatus = 'P'
    )
    SELECT
      o_orderpriority,
      COUNT(*) AS n_rows,
      {oracle_dsum('price')} AS sum_price
    FROM applied
    GROUP BY o_orderpriority
    """,
    tags=("lakehouse", "cdc", "merge"),
)
@scratch
def lakehouse_cdc_apply(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """CDC apply: fold a change batch carrying explicit I/U/D operations
    (the Debezium/stream-capture shape) into a snapshot table — deletes
    anti-join out, updates overwrite matched rows, inserts append — as ONE
    copy-on-write commit, so consumers see the change batch atomically and
    time travel preserves the pre-batch table. The change batch derives
    deterministically from the source (every 10th 'F' order deleted, every
    10th+1 repriced, all 'P' orders inserted), so the DuckDB twin rebuilds
    the identical final state.

    Scale shape: the batch (keys + new values) broadcasts against the base
    where changes ≪ base; the commit rewrites data files but the apply
    logic itself is one scan of each side.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderstatus") == "F")
    deletes = base.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
    updates = base.filter(F.col("o_orderkey") % 10 == 1).select(
        "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("new_price")
    )
    inserts = o.filter(F.col("o_orderstatus") == "P")
    survived = base.join(F.broadcast(deletes), "o_orderkey", "left_anti")
    upd = survived.join(F.broadcast(updates), "o_orderkey", "left").select(
        "o_orderkey",
        "o_orderpriority",
        F.coalesce(F.col("new_price"), F.col("o_totalprice")).alias("price"),
    )
    ins = inserts.select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").alias("price")
    )
    final = upd.unionByName(ins)
    t = SnapshotTable(spark, root)
    t.write(final, mode="overwrite")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price"), "sum_price"),
        )
    )


@query(
    "lakehouse_mor_delete",
    oracle="""
    WITH survivors AS (
      SELECT o_orderstatus FROM orders
      WHERE o_orderstatus IN ('F', 'O') AND o_orderkey % 7 <> 0
      UNION ALL
      -- rows appended AFTER the delete keep matching keys (sequence
      -- numbers scope delete files to older data)
      SELECT o_orderstatus FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT
      o_orderstatus,
      COUNT(*) AS n_rows_mor,
      COUNT(*) AS n_rows_compacted
    FROM survivors
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "mor", "delete", "maintenance"),
)
@scratch
def lakehouse_mor_delete(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Merge-on-read DELETE (Iceberg v2's point-delete path): v1/v2 append
    'F' then 'O' orders; an EQUALITY-DELETE file tombstones every 7th
    order key WITHOUT rewriting data; v4 appends 'P' orders AFTER the
    delete — and keeps its own %7 keys, because delete files apply only
    to data committed before them (sequence-number scoping, the part of
    MOR semantics naive anti-join emulations get wrong). rewrite_mor()
    then compacts tombstones into data files; both reads must agree,
    which the paired count columns prove against one oracle.

    Scale trade: the delete commit costs O(matching keys) regardless of
    table size — the GDPR-erasure shape — while reads pay an anti-join
    per delete file until compaction folds them away.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    t.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    t.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    t.delete_where_mor(F.col("o_orderkey") % 7 == 0, ["o_orderkey"])
    t.write(o.filter(F.col("o_orderstatus") == "P"), mode="append")
    # A read resolves its files when it is built, and the compaction only
    # adds files, so the merge-on-read frame still reads the pre-compaction
    # table when it runs.
    mor = t.read().groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_rows_mor"))
    t.rewrite_mor()
    compacted = (
        t.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_rows_compacted"))
    )
    return mor.join(compacted, "o_orderstatus")


@query(
    "lakehouse_rollback",
    oracle="""
    SELECT
      CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
        AS rows_after_rollback,
      CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('F', 'O')) AS BIGINT)
        AS rows_before_rollback,
      CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
        AS rows_bad_still_readable,
      CAST(3 AS BIGINT) AS n_snapshots
    FROM orders
    """,
    tags=("lakehouse", "rollback", "maintenance"),
)
@scratch
def lakehouse_rollback(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Snapshot ROLLBACK (Iceberg's rollback_to_snapshot): v1 loads 'F'
    orders, v2 appends 'O' orders — the \"bad write\" — and the rollback
    commits v3 pointing at v1's data: current reads instantly see the
    pre-mistake table, as a pure metadata move (no data rewritten), while
    the bad snapshot REMAINS time-travel readable for forensics (its
    incremental delta is still exactly the 'O' rows) until expiry
    reclaims it. The metadata log holds three commits — load, bad write,
    rollback — which the oracle's count columns pin against the source
    table.
    """
    o = load_table(spark, sf_dir, "orders")
    t = SnapshotTable(spark, root)
    v1 = t.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    v2 = t.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    t.rollback(v1)
    return spark.range(1).select(
        F.lit(t.read().count()).cast("long").alias("rows_after_rollback"),
        F.lit(t.read(v2).count()).cast("long").alias(
            "rows_before_rollback"
        ),
        F.lit(t.read_incremental(v1, v2).count()).cast("long").alias(
            "rows_bad_still_readable"
        ),
        F.lit(t.metadata_log_entries().count())
        .cast("long")
        .alias("n_snapshots"),
    )


@query(
    "lakehouse_write_audit_publish",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'O'
    ), batch_a AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_totalprice <= 0) AS bad
      FROM orders WHERE o_orderstatus = 'F'
    ), batch_b AS (
      -- the simulated buggy upstream negates every odd-key price, so the
      -- audit rule (no non-positive prices) must reject those rows
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (
               WHERE (CASE WHEN o_orderkey % 2 = 1
                           THEN -o_totalprice ELSE o_totalprice END) <= 0
             ) AS bad
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT
      CAST((SELECT n FROM base) AS BIGINT) AS base_rows,
      CAST((SELECT bad FROM batch_a) AS BIGINT) AS violations_a,
      CAST((SELECT bad FROM batch_b) AS BIGINT) AS violations_b,
      CAST((SELECT n FROM base)
           + CASE WHEN (SELECT bad FROM batch_a) = 0
                  THEN (SELECT n FROM batch_a) ELSE 0 END
           + CASE WHEN (SELECT bad FROM batch_b) = 0
                  THEN (SELECT n FROM batch_b) ELSE 0 END
           AS BIGINT) AS main_rows,
      CAST(CASE WHEN (SELECT bad FROM batch_b) = 0
                THEN (SELECT n FROM base)
                     + CASE WHEN (SELECT bad FROM batch_a) = 0
                            THEN (SELECT n FROM batch_a) ELSE 0 END
                     + (SELECT n FROM batch_b)
                ELSE (SELECT n FROM base)
                     + CASE WHEN (SELECT bad FROM batch_a) = 0
                            THEN (SELECT n FROM batch_a) ELSE 0 END
           END AS BIGINT) AS staging_rows_after_reset
    """,
    tags=("lakehouse", "wap", "branch", "audit", "publish"),
)
@scratch
def lakehouse_write_audit_publish(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """End-to-end WRITE-AUDIT-PUBLISH — the canonical Iceberg production
    ingestion pattern (stage on a branch, validate, fast-forward main;
    cf. the reference's Iceberg tables, which exist precisely so commits
    are atomic and auditable): batch A ('F' orders) is staged on a
    ``staging`` branch, audited INCREMENTALLY (only the rows the staged
    snapshot ADDED are scanned, via the start/end-snapshot incremental
    read), passes, and publishes to main as a pure metadata pointer move.
    Batch B ('P' orders through a simulated buggy upstream that negates
    odd-key prices) is staged the same way, FAILS the audit, and the
    staging branch is reset to main — the bad commit never becomes
    visible to readers and no data is rewritten to undo it.

    The oracle encodes the DECISION RULE, not the expected data: each
    batch contributes to main iff its violation count is zero, so the
    check verifies the branching behavior itself. Audit cost is
    delta-proportional (incremental scan of added files only) and both
    publish and reset are O(1) ref moves — at 100 TB the WAP loop costs
    one batch write + one batch scan per ingest, never a table scan.
    """
    o = load_table(spark, sf_dir, "orders")
    audit_rule = F.col("o_totalprice") <= 0
    t = SnapshotTable(spark, root)
    base_id = t.write(o.filter(F.col("o_orderstatus") == "O"))
    base_rows = t.read().count()
    t.create_branch("staging")

    # WRITE: stage batch A on the branch; main is untouched.
    a_id = t.write(
        o.filter(F.col("o_orderstatus") == "F"),
        mode="append",
        branch="staging",
    )
    # AUDIT: scan only what the staged snapshot added.
    violations_a = (
        t.read_incremental(base_id, a_id).filter(audit_rule).count()
    )
    # PUBLISH: pointer move, no data copied. REJECT must also reset
    # staging — otherwise a failed batch A stays staged and batch B's
    # incremental audit re-scans A's rows.
    if violations_a == 0:
        t.fast_forward("main", "staging")
    else:
        t.fast_forward("staging", "main")
    main_head = t.current_snapshot_id()

    # Batch B arrives through a buggy upstream: odd keys negated.
    bad_batch = o.filter(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 2 == 1, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")),
    )
    b_id = t.write(bad_batch, mode="append", branch="staging")
    # AUDIT exactly what the staged commit ADDED: anchor at the last
    # snapshot id before b (a_id), not at main — read_incremental is
    # an id-interval scan over the linear log, so a REJECTED batch A
    # still occupies (main, b] and would pollute a main-anchored
    # audit.
    violations_b = (
        t.read_incremental(a_id, b_id).filter(audit_rule).count()
    )
    if violations_b == 0:
        t.fast_forward("main", "staging")
        staging_after = t.read_ref("staging").count()
    else:
        # REJECT: reset staging to main, abandoning the bad commit.
        t.fast_forward("staging", "main")
        staging_after = t.read_ref("staging").count()

    return spark.range(1).select(
        F.lit(base_rows).cast("long").alias("base_rows"),
        F.lit(violations_a).cast("long").alias("violations_a"),
        F.lit(violations_b).cast("long").alias("violations_b"),
        F.lit(t.read_ref("main").count()).cast("long").alias("main_rows"),
        F.lit(staging_after).cast("long").alias("staging_rows_after_reset"),
    )


@query(
    "lakehouse_incremental_matview",
    oracle=f"""
    SELECT
      CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY 1
    """,
    tags=("lakehouse", "matview", "incremental", "ivm"),
)
@scratch
def lakehouse_incremental_matview(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance over the snapshot layer
    (the continuous-aggregate / incremental-refresh pattern): a monthly
    rollup of orders is built once from the base load, then kept current
    across two append batches by aggregating ONLY each batch's added rows
    (``read_incremental``) and merging the partial aggregate into the
    stored view — the view is never recomputed from the full table.

    Correct-by-algebra: count and decimal-sum are commutative monoids, so
    base ⊕ delta₁ ⊕ delta₂ is EXACTLY the full-table aggregate — the
    oracle recomputes the rollup from scratch and the hashes must agree
    bit-for-bit (the running sum stays DECIMAL(30,6) inside the stored
    view; only the final read casts to double). At 100 TB this is the
    difference between scanning a day's delta and scanning seven years of
    history per refresh: cost is O(delta) + a |view|-row merge, and the
    view table (months × small state) broadcasts into the merge join.
    """
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(month.alias("month")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("sum_price"),
        )

    # Dateless orders (NULL o_orderdate, a real ingest shape) must not
    # vanish from the view: plain year predicates are all NULL for them,
    # so they'd be written to NO batch. They ride with the base load,
    # and the view carries a NULL month group.
    yr = F.coalesce(F.year("o_orderdate"), F.lit(0))
    src = SnapshotTable(spark, os.path.join(root, "src"))
    mv = SnapshotTable(spark, os.path.join(root, "mv"))
    head = src.write(o.filter(yr < 1996))
    mv.write(rollup(src.read()))
    for batch_cond in (yr == 1996, yr >= 1997):
        head_new = src.write(o.filter(batch_cond), mode="append")
        delta = rollup(src.read_incremental(head, head_new)).select(
            F.col("month").alias("month_d"),
            F.col("n_orders").alias("n_orders_d"),
            F.col("sum_price").alias("sum_price_d"),
        )
        cur = mv.read()
        # NULL-SAFE merge key: a plain equi-join can never match the
        # NULL month group, so it would DUPLICATE per refresh instead
        # of accumulating.
        merged = (
            cur.join(
                delta,
                cur["month"].eqNullSafe(delta["month_d"]),
                "full_outer",
            )
            .select(
                F.coalesce(cur["month"], delta["month_d"]).alias("month"),
                (
                    F.coalesce(cur["n_orders"], F.lit(0))
                    + F.coalesce(delta["n_orders_d"], F.lit(0))
                ).alias("n_orders"),
                # SUM-combine semantics, not plain +: a partial that is
                # NULL (all contributing prices NULL) is SKIPPED, and
                # the result is NULL only when BOTH partials are
                # NULL/absent — coalescing NULL to 0 unconditionally
                # would surface an all-NULL month as 0.0 while the
                # oracle's SUM(decimal) is NULL.
                dec(
                    F.when(
                        cur["sum_price"].isNull()
                        & delta["sum_price_d"].isNull(),
                        dec(F.lit(None)),
                    ).otherwise(
                        F.coalesce(cur["sum_price"], dec(F.lit(0)))
                        + F.coalesce(delta["sum_price_d"], dec(F.lit(0)))
                    )
                ).alias("sum_price"),
            )
        )
        mv.write(merged, mode="overwrite")
        head = head_new
    return mv.read().select(
        "month",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


@query(
    "lakehouse_analyze_stats",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           CAST(MIN(o_custkey) AS BIGINT) AS min_val,
           CAST(MAX(o_custkey) AS BIGINT) AS max_val,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS null_count,
           CAST(COUNT(*) AS BIGINT) AS row_count
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(MIN(o_orderkey) AS BIGINT),
           CAST(MAX(o_orderkey) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    """,
    tags=("lakehouse", "statistics", "cbo"),
)
@scratch
def lakehouse_analyze_stats(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """ANALYZE TABLE → catalog statistics round-trip: ingest orders into a
    catalog table, compute table + column statistics, and read them BACK
    FROM THE CATALOG (`DESCRIBE EXTENDED <table> <col>`), emitting min /
    max / null-count / row-count per analyzed column.

    The oracle recomputes the same statistics from the raw parquet, so a
    stats pipeline that scans wrong, loses rows, or mis-serializes catalog
    entries hash-mismatches. (`distinct_count` is intentionally excluded —
    ANALYZE estimates it with HLL.) These catalog stats are what feeds
    Catalyst's CBO: broadcast selection, join reordering, and AQE's
    initial estimates all read the numbers this query verifies.

    100 TB: ANALYZE is one distributed scan with fixed-size per-column
    sketches tree-aggregated to the driver; the catalog write is O(1)
    metadata. Statistics maintenance is a background job, never a
    query-path cost.
    """
    o = load_table(spark, sf_dir, "orders")
    db = os.path.basename(root)
    tname = f"{db}.orders"
    LakehouseCatalog(spark).create_namespace(db)
    o.write.option("path", os.path.join(root, "t")).saveAsTable(tname)
    spark.sql(
        f"ANALYZE TABLE {tname} COMPUTE STATISTICS "
        "FOR COLUMNS o_orderkey, o_custkey"
    )
    rows = []
    n_rows = None
    for line in spark.sql(f"DESCRIBE TABLE EXTENDED {tname}").collect():
        if line["col_name"] == "Statistics":
            # "<bytes> bytes, <rows> rows"
            n_rows = int(line["data_type"].split(",")[1].split()[0])
    assert n_rows is not None, "ANALYZE did not record a row count"
    for c in ("o_custkey", "o_orderkey"):
        d = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {tname} {c}").collect()
        }
        # ANALYZE on a 0-row table records min/max as the string 'NULL' —
        # surface them as real NULLs, matching the oracle's MIN/MAX over
        # zero rows.
        stat = lambda v: None if v == "NULL" else int(v)  # noqa: E731
        rows.append((c, stat(d["min"]), stat(d["max"]), int(d["num_nulls"]), n_rows))
    return spark.createDataFrame(
        rows,
        "col_name string, min_val long, max_val long, "
        "null_count long, row_count long",
    )


@query(
    "lakehouse_dynamic_partition_overwrite",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN 'X-REWRITTEN'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders
    )
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(COUNT(*) FILTER (WHERE o_orderpriority = 'X-REWRITTEN') AS BIGINT)
        AS n_rewritten,
      CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM merged GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "sink", "partitioned"),
)
@scratch
def lakehouse_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Dynamic partition overwrite — the production incremental-sink
    semantic: INSERT OVERWRITE with
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` replaces ONLY the
    partitions present in the incoming batch and leaves every other
    partition byte-untouched (static mode would truncate the whole table).

    Seed: all orders partitioned by status. Batch: the 'O' partition with
    priorities rewritten. Read-back must show 'O' fully replaced and
    'F'/'P' identical to the seed — the oracle encodes exactly that merge,
    so a mode regression (whole-table truncate, or append instead of
    replace) hash-mismatches.

    100 TB: a daily re-statement rewrites only the touched date
    partitions — I/O proportional to the delta, never the table; the
    partition column prunes both the rewrite scan and every downstream
    read.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    db = os.path.basename(root)
    tname = f"{db}.orders"
    dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    LakehouseCatalog(spark).create_namespace(db)
    (
        o.write.partitionBy("o_orderstatus")
        .option("path", os.path.join(root, "t"))
        .saveAsTable(tname)
    )
    batch = o.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_orderpriority", F.lit("X-REWRITTEN")
    )
    with session_conf(spark, dynamic):
        spark.sql(
            f"INSERT OVERWRITE TABLE {tname} "
            "SELECT o_orderkey, o_orderpriority, o_orderstatus FROM {batch}",
            batch=batch,
        )
    return (
        spark.table(tname)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_orderpriority") == "X-REWRITTEN", 1)).alias(
                "n_rewritten"
            ),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@query(
    "lakehouse_shallow_clone",
    oracle="""
    WITH source_rows AS (
      SELECT o_orderstatus FROM orders
      WHERE o_orderstatus IN ('F', 'O', 'P')
    ), clone_rows AS (
      SELECT o_orderstatus FROM orders
      WHERE o_orderstatus IN ('F', 'O')
    )
    SELECT 'source' AS side, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM source_rows GROUP BY o_orderstatus
    UNION ALL
    SELECT 'clone', o_orderstatus, CAST(COUNT(*) AS BIGINT)
    FROM clone_rows GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "clone", "zero-copy"),
)
@scratch
def lakehouse_shallow_clone(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE: fork a table for dev/test without moving a
    byte of data — the clone's first snapshot references the source's data
    directories, and the two tables then evolve independently.

    Script: seed F, append O → clone → source appends P. The clone must
    see exactly F+O (source commits after the fork are invisible) while
    the source sees F+O+P; the query also asserts IN-QUERY that the clone
    wrote ZERO data files of its own (metadata-only fork) — copy-on-fork
    regressions fail the assert, divergence regressions fail the hash.

    100 TB: cloning a petabyte table is O(1) metadata; the caveat
    (source expiry can orphan clone references) is enforced where it
    corrupts — tables with pending MoR deletes refuse to clone.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    src = SnapshotTable(spark, os.path.join(root, "src"))
    src.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    src.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    clone = src.clone_to(os.path.join(root, "dst"))
    # metadata-only fork: the clone's root holds no data files
    clone_data = os.path.join(root, "dst", "data")
    n_clone_files = sum(
        len(fs) for _, _, fs in os.walk(clone_data)
    ) if os.path.exists(clone_data) else 0
    assert n_clone_files == 0, "shallow clone copied data files"
    src.write(o.filter(F.col("o_orderstatus") == "P"), mode="append")
    return (
        src.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("source").alias("side"), "o_orderstatus", "n")
        .unionAll(
            clone.read()
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("clone").alias("side"), "o_orderstatus", "n")
        )
    )


@query(
    "lakehouse_write_distribution_smallfiles",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "write-distribution", "small-files"),
)
@scratch
def lakehouse_write_distribution_smallfiles(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Write-distribution control — the small-files lesson measured, not
    asserted: a partitioned write straight from N shuffle tasks emits up
    to N files PER PARTITION (every task holds rows of every partition),
    while hash-distributing on the partition column first (Iceberg's
    ``write.distribution-mode=hash``) emits exactly one file per
    partition per owning task.

    The query writes the same data both ways, counts the data files each
    layout produced, asserts the clustered layout is strictly smaller AND
    exactly |partitions| files, and returns the read-back rollup of the
    clustered copy — so the oracle hash additionally proves the
    distribution rewrite lost nothing.

    100 TB: unclustered partitioned writes are how tables end up with
    millions of KB-sized files (then need `lakehouse_compaction`);
    distributing on the partition key at write time is the cure that
    costs one shuffle.
    """
    import glob

    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .repartition(8)  # simulate arbitrary upstream task layout
    )
    naive = os.path.join(root, "naive")
    clustered = os.path.join(root, "clustered")
    o.write.partitionBy("o_orderstatus").parquet(naive)
    o.repartition("o_orderstatus").write.partitionBy(
        "o_orderstatus"
    ).parquet(clustered)
    n_naive = len(glob.glob(os.path.join(naive, "*", "*.parquet")))
    n_clustered = len(glob.glob(os.path.join(clustered, "*", "*.parquet")))
    # Schema from the written frame, not file inference: a 0-row
    # write leaves no data files to sniff, and pinning the schema is
    # what a production reader does anyway.
    back = spark.read.schema(o.schema).parquet(clustered)
    n_parts = back.select("o_orderstatus").distinct().count()
    assert n_clustered == n_parts, (n_clustered, n_parts)
    # The small-files phenomenon needs data to exhibit; an empty
    # write emits zero files under both layouts.
    assert n_naive > n_clustered or n_parts == 0, (n_naive, n_clustered)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


@query(
    "lakehouse_metadata_count",
    oracle="""
    SELECT 1 AS snapshot_id, 'append' AS operation,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS meta_rows
    FROM orders
    UNION ALL
    SELECT 2, 'append',
           CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('F', 'O')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 3, 'overwrite',
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT)
    FROM orders
    """,
    tags=("lakehouse", "metadata", "count"),
)
@scratch
def lakehouse_metadata_count(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Metadata-only COUNT(*): every snapshot's row count answered from
    per-commit footer counts recorded at WRITE time — no data file is
    opened at query time (Iceberg's manifests-only count; the reason
    `SELECT COUNT(*)` on a petabyte Iceberg table returns in
    milliseconds).

    Three commits (append F → append O → overwrite P), then each
    snapshot's metadata count is emitted and asserted in-query against
    the actual distributed count — so both a stale-metadata regression
    (counts drift from data) and a fallback-to-scan regression (the
    assert would still pass but the oracle pins the values) are caught.
    The MoR-delete guard (counts need a scan once delete files exist) is
    unit-tested on the API.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    t = SnapshotTable(spark, root)
    t.write(o.filter(F.col("o_orderstatus") == "F"), mode="append")
    t.write(o.filter(F.col("o_orderstatus") == "O"), mode="append")
    t.write(o.filter(F.col("o_orderstatus") == "P"), mode="overwrite")
    rows = []
    for e in t.metadata_log_entries().collect():
        sid = e["snapshot_id"]
        meta = t.metadata_row_count(sid)
        assert meta == t.read(sid).count(), (sid, meta)
        rows.append((sid, e["operation"], meta))
    return spark.createDataFrame(
        rows, "snapshot_id int, operation string, meta_rows long"
    )


@query(
    "lakehouse_incremental_matview_join",
    oracle=f"""
    SELECT
      c.c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM({oracle_cents('o.o_totalprice')}) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("lakehouse", "matview", "incremental", "join"),
)
@scratch
def lakehouse_incremental_matview_join(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta-join algebra
    that completes IVM beyond aggregates (`lakehouse_incremental_matview`
    handles the monoid half): with both sides append-only, the view's
    delta is ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — three joins whose inputs are
    delta-sized on at least one side, never a full A⋈B recompute.

    Script: seed orders (years <1998) and half the customers, materialize
    the joined rollup; then append the remaining orders AND customers in
    one refresh cycle and fold ONLY the three delta terms into the view.
    The oracle is the full join on the FINAL tables, so a missing delta
    term (the classic IVM bug — forgetting ΔA⋈ΔB) breaks the hash.
    Aggregation state is exact integer cents, so incremental ⊕ equals
    recompute bit-for-bit. At 100 TB: refresh cost is O(Δ·matched) and
    the delta sides broadcast; history never rescans.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def agg_join(orders_df: DataFrame, cust_df: DataFrame) -> DataFrame:
        return (
            orders_df.join(cust_df, orders_df["o_custkey"] == cust_df["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents("o_totalprice")).alias("total_cents"),
            )
        )

    src_o = SnapshotTable(spark, os.path.join(root, "o"))
    src_c = SnapshotTable(spark, os.path.join(root, "c"))
    mv = SnapshotTable(spark, os.path.join(root, "mv"))
    # coalesce the split keys: NULL o_orderdate / NULL c_custkey rows
    # satisfy NO plain predicate and would be silently written to
    # NEITHER batch; they ride with the seed batch (NULL custkey never
    # joins, but the table must still hold every ingested row).
    oyr = F.coalesce(F.year("o_orderdate"), F.lit(0))
    ck2 = F.coalesce(F.pmod(F.col("c_custkey"), 2), F.lit(0))
    o_old_id = src_o.write(o.filter(oyr < 1998))
    c_old_id = src_c.write(c.filter(ck2 == 0))
    mv.write(agg_join(src_o.read(), src_c.read()))

    o_new_id = src_o.write(o.filter(oyr >= 1998))
    c_new_id = src_c.write(c.filter(ck2 == 1))

    d_o = src_o.read_incremental(o_old_id, o_new_id)
    d_c = src_c.read_incremental(c_old_id, c_new_id)
    a_old = src_o.read(o_old_id)
    b_old = src_c.read(c_old_id)
    delta_view = (
        agg_join(d_o, b_old)
        .unionAll(agg_join(a_old, d_c))
        .unionAll(agg_join(d_o, d_c))
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )
    merged = (
        mv.read()
        .unionAll(delta_view)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )
    mv.write(merged, mode="overwrite")
    return mv.read().select(
        "c_mktsegment",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_cents").cast("long").alias("total_cents"),
    )


@query(
    "lakehouse_gdpr_forget",
    oracle="""
    -- survivors are rows where the erasure predicate IS NOT TRUE: a
    -- keyless row is NOT deleted (DELETE removes only TRUE matches), so
    -- the <> filter — which excludes NULL keys — would undercount n_after
    SELECT 'customer' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(*) FILTER (WHERE c_custkey % 97 = 0) AS BIGINT)
             AS n_deleted,
           CAST(COUNT(*) FILTER (WHERE (c_custkey % 97 = 0) IS NOT TRUE)
                AS BIGINT) AS n_after,
           CAST(0 AS BIGINT) AS n_orphans
    FROM customer
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_custkey % 97 = 0) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE (o_custkey % 97 = 0) IS NOT TRUE)
                AS BIGINT),
           CAST(0 AS BIGINT)
    FROM orders
    """,
    tags=("lakehouse", "governance", "delete", "gdpr"),
)
@scratch
def lakehouse_gdpr_forget(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Right-to-be-forgotten cascade: delete a deterministic cohort of
    customers (custkey ≡ 0 mod 97 — standing in for the explicit erasure
    list a DSR queue supplies) from the customer table AND every fact
    table referencing them, then emit the per-table audit a privacy
    review needs: rows before, rows erased, rows after, and — the actual
    compliance bit — a recount of SURVIVING rows that still reference a
    forgotten subject, which the oracle pins to exactly 0. If the
    cascade missed rows anywhere, n_orphans goes nonzero and the hash
    check fails; if it over-deleted, n_after mismatches.

    Iceberg semantics under test: two independent SnapshotTables take
    row-level copy-on-write deletes; both PRE-delete snapshots must stay
    readable via time travel (asserted in-query — GDPR erasure in a
    snapshot store additionally requires expire_snapshots to physically
    drop the old files; that retention half is exercised by
    ``lakehouse_expire_snapshots``).

    Scale shape: each delete is one predicate-pushed scan + rewrite (in
    real Iceberg COW, of only the files containing matches via manifest
    min/max pruning — this emulation's dir-granularity boundary is
    documented at `snapshots.py delete_where`); the audit recount is a
    map-side filter count. With an explicit key list instead of a
    predicate, the same cascade runs as a broadcast LEFT SEMI join per
    table — the erasure list is human-scale, never corpus-scale. Nothing
    here shuffles at all: deletes and counts are scan-shaped.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    tc = SnapshotTable(spark, os.path.join(root, "customer"))
    to = SnapshotTable(spark, os.path.join(root, "orders"))
    vc = tc.write(c, mode="append")
    vo = to.write(o, mode="append")
    nc_before = tc.read().count()
    no_before = to.read().count()
    tc.delete_where(F.col("c_custkey") % 97 == 0)
    to.delete_where(F.col("o_custkey") % 97 == 0)
    nc_after = tc.read().count()
    no_after = to.read().count()
    # Erasure must not rewrite history (time travel intact until
    # expire_snapshots runs its retention pass).
    if tc.read(vc).count() != nc_before or to.read(vo).count() != no_before:
        raise AssertionError("pre-erasure snapshot was mutated")
    orph_c = tc.read().filter(F.col("c_custkey") % 97 == 0).count()
    orph_o = to.read().filter(F.col("o_custkey") % 97 == 0).count()
    rows = [
        ("customer", nc_before, nc_before - nc_after, nc_after, orph_c),
        ("orders", no_before, no_before - no_after, no_after, orph_o),
    ]
    return spark.createDataFrame(
        rows,
        "table_name STRING, n_before BIGINT, n_deleted BIGINT,"
        " n_after BIGINT, n_orphans BIGINT",
    )


def _keyed_rank(df: DataFrame, key: str) -> DataFrame:
    """Global dense 0-based rank of ``key`` WITHOUT a SinglePartition
    window: bucket by key range, row_number within each bucket (keyed
    window, parallel), then offset each bucket by the cumulative count of
    earlier buckets — a window over the tiny bucket table only (the
    `pack_token_shards` two-phase trick applied to ranking)."""
    from pyspark.sql import Window

    b = df.withColumn("__b", F.expr(f"{key} DIV 4096"))
    within = F.row_number().over(
        Window.partitionBy("__b").orderBy(key)
    )
    b = b.withColumn("__w", within)
    base = (
        b.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__base",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__b", "__base")
    )
    return (
        b.join(F.broadcast(base), "__b")
        .withColumn("rid", (F.col("__base") + F.col("__w") - 1).cast("long"))
        .drop("__b", "__w", "__base")
    )


@query(
    "lakehouse_row_lineage",
    oracle="""
    WITH f AS (
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_orderstatus = 'F'
    ), v1 AS (
      SELECT o_orderkey, o_orderpriority,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM f
    ), nb AS (SELECT COUNT(*) AS n FROM f),
    p AS (
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_orderstatus = 'P'
    ), ins AS (
      SELECT o_orderkey, o_orderpriority,
             (SELECT n FROM nb)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM p
    ), final AS (
      SELECT o_orderpriority, rid, 1 AS created,
             CASE WHEN o_orderkey % 10 = 1 THEN 2 ELSE 1 END AS last_upd
      FROM v1 WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderpriority, rid, 2, 2 FROM ins
    )
    SELECT
      o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) FILTER (WHERE created = 1 AND last_upd = 1) AS BIGINT)
        AS n_untouched,
      CAST(COUNT(*) FILTER (WHERE created = 1 AND last_upd = 2) AS BIGINT)
        AS n_updated,
      CAST(COUNT(*) FILTER (WHERE created = 2) AS BIGINT) AS n_inserted,
      CAST(SUM(rid) AS BIGINT) AS rowid_sum,
      CAST((SELECT n FROM nb) AS BIGINT) AS v1_rows
    FROM final
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("lakehouse", "lineage", "merge", "time-travel"),
)
@scratch
def lakehouse_row_lineage(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Iceberg-v3-style ROW LINEAGE through a merge: every row carries
    `_row_id` (assigned once, from the table's next-row-id high-water
    mark, by deterministic key rank), `_created_snapshot`, and
    `_last_updated_snapshot`; a CDC-shaped second commit (delete every
    10th base row, reprice every 10th+1, insert the 'P' orders) must
    PRESERVE updated rows' ids, stamp their last-updated snapshot, and
    mint fresh ids for inserts starting at the v1 high-water mark —
    the invariants downstream incremental consumers and audit tooling
    key on (Iceberg spec v3 row-lineage fields, emulated since no
    Iceberg jar exists in this sandbox — see README parity table).

    The readout aggregates the final table per priority (untouched /
    updated / inserted counts + the exact row-id checksum) and proves
    time travel still serves the pre-merge table via `v1_rows` read from
    snapshot 1. Ranks are the two-phase bucket rank (no SinglePartition
    window over the base table); everything else is exact integers.
    """
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderpriority"
    )
    v1 = _keyed_rank(f, "o_orderkey").select(
        "o_orderkey",
        "o_orderpriority",
        "rid",
        F.lit(1).alias("created"),
        F.lit(1).alias("last_upd"),
    )
    t = SnapshotTable(spark, root)
    snap1 = t.write(v1, mode="append")
    nb = t.read(snapshot_id=snap1).count()
    base = t.read(snapshot_id=snap1)
    survived = base.filter(F.col("o_orderkey") % 10 != 0)
    updated = survived.withColumn(
        "last_upd",
        F.when(F.col("o_orderkey") % 10 == 1, F.lit(2)).otherwise(
            F.col("last_upd")
        ),
    )
    p = o.filter(F.col("o_orderstatus") == "P").select(
        "o_orderkey", "o_orderpriority"
    )
    ins = _keyed_rank(p, "o_orderkey").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("rid") + F.lit(nb)).cast("long").alias("rid"),
        F.lit(2).alias("created"),
        F.lit(2).alias("last_upd"),
    )
    t.write(updated.unionByName(ins), mode="overwrite")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when((F.col("created") == 1) & (F.col("last_upd") == 1), 1)
            ).alias("n_untouched"),
            F.count(
                F.when((F.col("created") == 1) & (F.col("last_upd") == 2), 1)
            ).alias("n_updated"),
            F.count(F.when(F.col("created") == 2, 1)).alias("n_inserted"),
            F.sum("rid").cast("long").alias("rowid_sum"),
        )
        .withColumn("v1_rows", F.lit(nb).cast("long"))
        .orderBy("o_orderpriority")
    )


# Fixed commit root for the second-engine-read proof: the DuckDB oracle is a
# STATIC SQL string, so the committed layout must land at a deterministic
# path. Each invocation wipes and recommits (idempotent); history is
# append-only, so the data glob below equals the current snapshot's resolved
# data-dir list exactly.
_SECOND_ENGINE_ROOT = "/tmp/spark_graft_second_engine_read"


@query(
    "lakehouse_second_engine_read",
    oracle=f"""
    WITH t AS (
      SELECT * FROM read_parquet(
        '{_SECOND_ENGINE_ROOT}/data/*/*.parquet')
    )
    SELECT
      c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(COUNT(*) AS BIGINT) AS n_customers_src,
      CAST(COUNT(*) FILTER (WHERE c_custkey % 2 = 0) AS BIGINT) AS n_commit1,
      CAST(SUM({oracle_cents('c_acctbal')}) AS BIGINT) AS acctbal_cents,
      CAST(MIN(c_custkey) AS BIGINT) AS min_custkey,
      CAST(MAX(c_custkey) AS BIGINT) AS max_custkey
    FROM t GROUP BY c_mktsegment
    """,
    tags=("lakehouse", "interop", "second-engine"),
)
def lakehouse_second_engine_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-engine read of the COMMITTED table layout — the portable
    analog of the reference's BigQuery auto-link (a BigLake Iceberg table
    is readable by a second engine the moment Spark commits it,
    iceberg_table_creation.py:63-74): Spark commits a SnapshotTable in two
    appends, and the DuckDB oracle reads the committed parquet files
    THEMSELVES (not the input parquet) via a static ``read_parquet`` glob
    over the table's data directories.

    Unlike every other lakehouse oracle (which re-derives the expected
    result from the source tables), this one's evidence is the on-disk
    commit: it hash-matches only if (a) DuckDB can parse the files Spark's
    committed layout comprises — schema, encodings, and values
    bit-for-bit — and (b) the commit was lossless: the Spark side computes
    ``n_customers_src`` from the RAW source table while the oracle derives
    it from the committed files, so a lifecycle that drops or duplicates
    rows breaks the hash even though both engines read the same files for
    the other columns. ``n_customers`` (Spark: manifest-resolved
    ``t.read()``; oracle: raw file glob) additionally pins manifest
    resolution to the physical layout — history is append-only, so the
    glob IS the current snapshot's data-dir list.

    Fixed root + wipe-per-invocation keeps the static oracle and the
    committed state in lockstep; the cents rollup reuses the proven
    decimal-cast pattern (`join_point_in_time_scd2`) so both engines
    quantize the double identically. Scale: two distributed parquet
    writes, one O(segments) rollup — commit metadata never holds rows.
    """
    import shutil

    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    shutil.rmtree(_SECOND_ENGINE_ROOT, ignore_errors=True)
    t = SnapshotTable(spark, _SECOND_ENGINE_ROOT)
    # coalesced split key: a NULL custkey satisfies NEITHER plain %2
    # predicate and would be committed to NO append — the commit must be
    # lossless for every ingested row.
    half = F.coalesce(F.pmod(F.col("c_custkey"), 2), F.lit(0))
    t.write(src.filter(half == 0), mode="append")
    t.write(src.filter(half == 1), mode="append")
    back = (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count(F.when(F.col("c_custkey") % 2 == 0, 1)).alias("n_commit1"),
            F.sum(cents("c_acctbal")).cast("long").alias("acctbal_cents"),
            F.min("c_custkey").cast("long").alias("min_custkey"),
            F.max("c_custkey").cast("long").alias("max_custkey"),
        )
    )
    src_n = src.groupBy(F.col("c_mktsegment").alias("seg_src")).agg(
        F.count(F.lit(1)).alias("n_customers_src")
    )
    # NULL-SAFE segment join: a plain equi-join would drop the NULL
    # mktsegment group that both engines' GROUP BYs keep.
    return back.join(
        src_n, back["c_mktsegment"].eqNullSafe(src_n["seg_src"])
    ).select(
        "c_mktsegment",
        "n_customers",
        "n_customers_src",
        "n_commit1",
        "acctbal_cents",
        "min_custkey",
        "max_custkey",
    )
