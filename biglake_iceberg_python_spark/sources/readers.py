"""CSV / JSON sources (SURVEY.md §2B "Sources" row).

The reference reads only parquet (A6); CSV/JSON complete the ingest surface.
Queries below round-trip a parquet table through each format and verify the
re-read against the original via the DuckDB oracle — exercising write-out,
schema declaration, and typed parse in one oracle-checkable loop.

Scale notes: CSV/JSON scans are line-splittable (parallel at any size) but
row-oriented — no column pruning, no predicate pushdown to row groups, no
stats. The pattern at 100 TB is exactly this round-trip: land raw CSV/JSON
once, convert to parquet/Iceberg, query columnar thereafter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    cents,
    dsum,
    oracle_cents,
    oracle_dsum,
)
from biglake_iceberg_python_spark.plans.registry import process_dir, query, scratch
from biglake_iceberg_python_spark.sources.tables import load_table


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Typed CSV read — explicit schema (never inferSchema at scale: it
    triggers an extra full scan) with header."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Typed JSON-lines read — explicit schema for the same reason."""
    return spark.read.schema(schema).json(path)


@query(
    "source_csv_roundtrip",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n,
           {oracle_dsum('c_acctbal')} AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("source", "csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → CSV files → typed CSV scan → aggregate; must equal the
    aggregate over the original parquet (lossless round-trip incl. doubles
    — Spark writes round-trippable float text)."""
    c = load_table(spark, sf_dir, "customer")
    out = os.path.join(process_dir("src_csv_"), "customer_csv")
    c.write.option("header", "true").csv(out)
    schema = (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    back = read_csv(spark, out, schema)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("c_acctbal", "sum_bal"),
    )


@query(
    "source_json_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n,
           {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("source", "json"),
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → JSON-lines → typed JSON scan → aggregate vs original."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(process_dir("src_json_"), "orders_json")
    o.write.json(out)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    back = read_json(spark, out, schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
    )


@query(
    "source_partitioned_write_prune",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_urgent,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("source", "partitioning", "prune"),
)
def source_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-pruned read: orders written
    partitionBy(o_orderpriority); the filtered read lists ONLY the matching
    partition directory (PartitionFilters in the scan — no data files from
    other partitions are opened). The core 100 TB scan-avoidance mechanism;
    Iceberg hidden partitioning is the same idea with transforms."""
    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(process_dir("src_part_"), "orders_part")
    o.write.partitionBy("o_orderpriority").parquet(out)
    # Schema pinned from the written frame — file inference fails on a
    # 0-row write.
    back = spark.read.schema(o.schema).parquet(out).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_urgent"),
        F.count_distinct("o_custkey").alias("n_custs"),
    )


@query(
    "source_orc_roundtrip",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS n,
           {oracle_dsum('p_retailprice')} AS sum_price
    FROM part
    GROUP BY p_brand
    """,
    tags=("source", "orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → ORC files → ORC scan → aggregate vs original.

    ORC is Spark's second columnar native format (vectorized reader,
    predicate pushdown, column pruning — same scan machinery as parquet);
    binary columnar round-trips are exact, so the oracle is the same
    aggregate over the original table."""
    p = load_table(spark, sf_dir, "part")
    out = os.path.join(process_dir("src_orc_"), "part_orc")
    p.write.orc(out)
    back = spark.read.orc(out)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("p_retailprice", "sum_price"),
    )


@query(
    "source_xml_roundtrip",
    oracle=f"""
    SELECT s_nationkey, COUNT(*) AS n,
           {oracle_dsum('s_acctbal')} AS sum_bal
    FROM supplier
    GROUP BY s_nationkey
    """,
    tags=("source", "xml"),
)
@scratch
def source_xml_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """parquet → XML files → typed XML scan → aggregate vs original.

    XML is a NATIVE Spark source since 4.0 (the spark-xml package merged
    into core) — rowTag framing, schema-on-read with an explicit schema
    (never inference at scale: it is an extra full parse). Like CSV/JSON
    it is a row-oriented landing format: parse once, convert to columnar,
    query parquet thereafter. Doubles round-trip losslessly (Spark writes
    round-trippable float text), so the oracle is the aggregate over the
    original table.
    """
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    out = os.path.join(root, "supplier_xml")
    (
        s.write.format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .schema("s_suppkey bigint, s_nationkey int, s_acctbal double")
        .option("rowTag", "supplier")
        .load(out)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("s_acctbal", "sum_bal"),
    )


@query(
    "source_binaryfile_digest",
    oracle="""
    SELECT doc_id,
           -- strlen = UTF-8 byte count; CAST(text AS BLOB) raises on any
           -- non-ASCII character.
           CAST(strlen(text) AS INTEGER) AS n_bytes,
           md5(text) AS digest
    FROM documents
    WHERE doc_id < 20 AND text IS NOT NULL AND text <> ''
    """,
    tags=("source", "binary", "multimodal"),
)
@scratch
def source_binaryfile_digest(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """`binaryFile` source: opaque files land as (path, length, content
    BINARY) rows — the ingestion doorway for image/audio/video corpora
    (SURVEY §2B multimodal row). Twenty documents are written out as raw
    UTF-8 files, re-read through binaryFile, and identified by content
    digest; the oracle computes the same digests from the text column, so
    the byte-level round-trip (encoding included) is what's verified.

    Scale: binaryFile reads are file-parallel and column-prunable (length
    and path come from the file status — content is only materialized when
    projected); payload bytes stay executor-side. The 20 driver-side file
    writes are test staging, not the operator.
    """
    # NULL text = no payload = no file, mirrored by the oracle's
    # `text IS NOT NULL` (writing b"" instead would digest md5('') where
    # the oracle digests NULL — a hash mismatch on any corpus with NULLs).
    # EMPTY text is excluded too: Spark's binaryFile source silently
    # emits no row for a 0-byte file, so an ''-payload doc written out
    # would appear in the oracle but never come back through the reader —
    # "no content, no digest" on both.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 20)
            & F.col("text").isNotNull()
            & (F.col("text") != "")
        )
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        with open(
            os.path.join(root, f"doc_{r['doc_id']:05d}.txt"), "wb"
        ) as f:
            f.write(r["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").load(root)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("int").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


@query(
    "source_parquet_schema_merge",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS o_channel
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'web' AS o_channel
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT
      COALESCE(o_channel, 'legacy') AS channel,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(COUNT(o_channel) AS BIGINT) AS n_with_channel,
      CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM unioned GROUP BY COALESCE(o_channel, 'legacy')
    """,
    tags=("source", "parquet", "schema-merge"),
)
@scratch
def source_parquet_schema_merge(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Parquet ``mergeSchema`` — FILE-level schema drift, the reader-side
    cousin of ALTER TABLE evolution (`lakehouse_schema_evolution`): a
    directory accumulates files written before and after a column was
    added, and one read reconciles them (old files NULL-backfill the new
    column).

    By default Spark reads the schema from ONE footer (old files would
    silently drop the new column); ``mergeSchema=true`` unions all
    footers. The oracle replays the expected union, so a reader that
    loses the column or mis-backfills hash-mismatches.

    100 TB: footer merging is a driver-side planning cost over file
    METADATA (mitigated by summary files / a table format); the data path
    is unchanged — each file is still read with its own projection.
    """
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    new = (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_totalprice")
        .withColumn("o_channel", F.lit("web"))
    )
    old.write.parquet(os.path.join(root, "batch=1"))
    new.write.parquet(os.path.join(root, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
    )
    assert "o_channel" in merged.columns
    return merged.groupBy(
        F.coalesce(F.col("o_channel"), F.lit("legacy")).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_channel").alias("n_with_channel"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


@query(
    "source_text_lines",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_lines,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      CAST(SUM(CASE WHEN text LIKE '%dup%' THEN 1 ELSE 0 END) AS BIGINT)
        AS lines_with_dup
    FROM documents
    """,
    tags=("source", "text"),
)
@scratch
def source_text_lines(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """``spark.read.text`` — the raw line-oriented source (one row per
    line, single ``value`` column): how WET/plain-text web-crawl shards
    enter a pipeline before any schema exists.

    Round-trip: document texts written as a text file (one doc per line),
    read back as lines, and reduced to line count / char mass / marker
    hits — the oracle computes the same from the source table, so a
    reader that splits, truncates, or re-encodes lines mismatches.

    100 TB: text files split on line boundaries; each task scans its
    byte range — the same embarrassing parallelism as CSV, minus parsing.
    """
    d = load_table(spark, sf_dir, "documents")
    path = os.path.join(root, "docs.txt")
    # documents text is single-line by construction; write one per line
    d.select("text").write.text(path)
    lines = spark.read.text(path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(F.col("value").contains("dup").cast("long"))
        .cast("long")
        .alias("lines_with_dup"),
    )


@query(
    "source_csv_malformed_permissive",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 50 = 0 THEN 1 ELSE 0 END AS corrupt
      FROM orders
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      -- COUNT, not SUM: a corrupt-row COUNT over zero rows is 0 on both
      -- engines where SUM would be NULL.
      CAST(COUNT(CASE WHEN corrupt = 1 THEN 1 END) AS BIGINT) AS n_corrupt,
      CAST(SUM(CASE WHEN corrupt = 0 THEN o_orderkey ELSE NULL END) AS BIGINT)
        AS clean_key_sum,
      CAST(SUM(CASE WHEN corrupt = 0
               THEN {oracle_cents('o_totalprice')} ELSE NULL END) AS BIGINT)
        AS clean_cents_sum
    FROM src
    """,
    tags=("source", "csv", "data-quality"),
)
@scratch
def source_csv_malformed_permissive(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Malformed-record handling on CSV ingest: rows whose numeric field
    is garbage (injected for o_orderkey % 50 = 0) must survive the read
    under ``mode=PERMISSIVE`` with a populated ``_corrupt_record`` column
    — the quarantine-don't-crash contract real ingest pipelines rely on
    (FAILFAST would kill a 100 TB job on one bad row; DROPMALFORMED would
    silently lose data).

    The oracle recomputes expected totals from the clean table: total
    rows, corrupt count, and key/cents sums of clean rows — so both
    silent drops and mis-parsed corruption hash-mismatch.

    Pitfall this query deliberately pins: corrupt detection only fires
    for columns the parser MATERIALIZES. With CSV column pruning, a query
    that never reads the bad column sees zero corrupt records — so the
    aggregation references the price column, the way any real quarantine
    audit must.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = os.path.join(root, "orders_csv")
    # inject garbage into the price field for a deterministic subset
    # coalesce to "" so a NULL serializes as an EMPTY FIELD: concat_ws
    # SKIPS NULL arguments, which wrote short lines that the CSV
    # parser then flagged as token-count-corrupt instead of parsing
    # back to NULL.
    lines = o.select(
        F.concat_ws(
            ",",
            F.coalesce(F.col("o_orderkey").cast("string"), F.lit("")),
            F.coalesce(
                F.when(
                    F.col("o_orderkey") % 50 == 0, F.lit("NOT_A_NUMBER")
                ).otherwise(F.col("o_totalprice").cast("string")),
                F.lit(""),
            ),
        ).alias("value")
    )
    lines.write.text(path)
    parsed = spark.read.csv(
        path,
        schema="o_orderkey LONG, o_totalprice DOUBLE, _corrupt_record STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("o_orderkey"))
        )
        .cast("long")
        .alias("clean_key_sum"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(),
                cents("o_totalprice"),
            )
        )
        .cast("long")
        .alias("clean_cents_sum"),
    )


@query(
    "source_recursive_glob_read",
    oracle="""
    SELECT
      o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("source", "layout", "glob"),
)
@scratch
def source_recursive_glob_read(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Messy-lake ingestion options: ``recursiveFileLookup=true`` walks an
    arbitrarily nested directory tree (no partition-discovery assumptions)
    and ``pathGlobFilter`` keeps only data files — the combination that
    reads a real landing zone where exports nest by team/date and stray
    `_SUCCESS`, `.crc`, and README files sit next to the parquet.

    The fixture scatters orders across nested subdirs and plants non-
    parquet junk; the filtered recursive read must reassemble EXACTLY the
    original table (oracle = direct aggregation), and an in-query assert
    pins that the junk file would otherwise have broken the read.

    100 TB: both options are driver-side listing behavior; data-path
    parallelism is unchanged. Listing cost is O(files) — the reason
    production zones graduate to table formats with manifest listings
    (`lakehouse_metadata_count`).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # scatter by key hash: hash thirds cover EVERY row, NULL-status rows
    # included
    for i, sub in ((0, "team_a/2024/01"), (1, "team_b/deep/nest/x"), (2, "misc")):
        o.filter(F.pmod(F.hash("o_orderkey"), 3) == i).write.parquet(
            os.path.join(root, sub)
        )
    # landing-zone junk the glob must ignore
    with open(os.path.join(root, "README.txt"), "w") as f:
        f.write("not data\n")
    with open(os.path.join(root, "team_a", "notes.json"), "w") as f:
        f.write('{"junk": true}\n')
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )
