"""Scalar function batteries: string, date/time, math, conditional, array,
JSON (SURVEY.md §2 Part B).

Reference parity: the reference *imports* ``col, year, month, dayofmonth,
hour, minute`` without calling them (bigquery_stored_procedures/
iceberg_stored_procedure.sql:38) — evidence of intended date-part surface;
everything else here is contract-mandated.

Cross-engine notes: DuckDB date parts return BIGINT while Spark returns INT,
so every extracted part is cast explicitly; array outputs are serialized to
deterministically-ordered joined strings (collect_list order is partition-
dependent, so raw arrays are never surfaced). All functions here run inside
whole-stage codegen — zero Python, zero shuffles beyond the final agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    oracle_cents,
    oracle_words,
    words,
)
from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table


@query(
    "scalar_string",
    oracle="""
    SELECT
      p_partkey,
      upper(p_name) AS name_upper,
      lower(p_brand) AS brand_lower,
      substr(p_name, 1, 5) AS name_prefix,
      length(p_name) AS name_len,
      -- concat_ws (skip-NULL) like the Spark side: plain concat treats
      -- NULL as '' and leaves the separator in
      concat_ws(':', p_brand, p_type) AS brand_type,
      trim('  ' || p_type || ' ') AS type_trimmed,
      replace(p_name, ' ', '_') AS name_snake,
      regexp_extract(p_brand, '[0-9]+') AS brand_num,
      CAST(strpos(p_name, 'a') AS INTEGER) AS first_a
    FROM part
    WHERE p_partkey % 10 = 0
    """,
    tags=("scalar", "string"),
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery: case, substr, length, concat, trim, replace,
    regexp_extract, position."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias(
            "type_trimmed"
        ),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.instr("p_name", "a").alias("first_a"),
    )


@query(
    "scalar_datetime",
    oracle="""
    SELECT
      o_orderkey,
      CAST(year(o_orderdate) AS INTEGER) AS order_year,
      CAST(month(o_orderdate) AS INTEGER) AS order_month,
      CAST(day(o_orderdate) AS INTEGER) AS order_day,
      CAST(dayofweek(o_orderdate) AS INTEGER) + 1 AS order_dow,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INTEGER)
        AS days_to_2002,
      strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
      strftime(o_orderdate, '%Y-%m-%d') AS orderdate_str
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
    tags=("scalar", "datetime"),
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery: parts (the reference's intended-but-unused import
    set), trunc, diff, add, format. DuckDB dayofweek is 0-based Sunday vs
    Spark 1-based — the oracle shifts by 1 to align."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_2002"
        ),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_str"),
    )


@query(
    "scalar_datetime_events",
    oracle="""
    SELECT
      CAST(hour(ts) AS INTEGER) AS h,
      CAST(minute(ts) AS INTEGER) AS m,
      COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    tags=("scalar", "datetime"),
)
def scalar_datetime_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hour/minute extraction on the ns-precision events stream (grouped so
    the output is compact at any scale)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(F.hour("ts").alias("h"), F.minute("ts").alias("m"))
        .groupBy("h", "m")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "scalar_interval",
    oracle="""
    SELECT
      o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS d,
      strftime(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d')
        AS plus_1mo,
      strftime(CAST(o_orderdate - INTERVAL 2 MONTH AS DATE), '%Y-%m-%d')
        AS minus_2mo,
      strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      strftime(o_orderdate + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S')
        AS plus_90min
    FROM orders
    WHERE day(o_orderdate) >= 28
      AND o_orderkey % 5 = 0
    """,
    tags=("scalar", "datetime", "interval"),
)
def scalar_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-arithmetic battery pinned at its classic cross-engine trap:
    END-OF-MONTH CLAMPING. Rows are restricted to dates on day >= 28, so
    every add_months crosses a month-length boundary somewhere in the
    sample (Jan 31 + 1 month must clamp to Feb 28/29 in BOTH engines, and
    Mar 31 − 2 months back to Jan 31 exactly). Also last_day, quarter, and
    sub-day INTERVAL addition on the timestamp itself. All results are
    formatted to strings so only calendar semantics — not date/timestamp
    type rendering — decide the hash.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.dayofmonth("o_orderdate") >= 28) & (F.col("o_orderkey") % 5 == 0)
    )
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.date_format(F.add_months(d, 1), "yyyy-MM-dd").alias("plus_1mo"),
        F.date_format(F.add_months(d, -2), "yyyy-MM-dd").alias("minus_2mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 90 MINUTES"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("plus_90min"),
    )


@query(
    "scalar_math",
    oracle=f"""
    SELECT
      l_orderkey,
      l_linenumber,
      CAST(({oracle_cents('l_extendedprice')}
            + CASE WHEN l_extendedprice < 0 THEN -5 ELSE 5 END) // 10
           AS DOUBLE) / 10
        AS price_round1,
      abs(l_discount - 0.05) AS disc_dev,
      CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil,
      CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kfloor,
      l_discount * l_discount AS disc_sq,
      CASE WHEN l_extendedprice > 0
           THEN CAST(ln(l_extendedprice) AS REAL) END AS price_ln,
      sqrt(l_quantity) AS qty_sqrt,
      CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
    tags=("scalar", "math"),
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery: round/abs/ceil/floor/pow/ln/sqrt/mod.

    The round() goes through DECIMAL(18,2) first: rounding a raw DOUBLE at a
    decimal boundary is oracle-VERSION-dependent (a price of 26612.55 is
    binary ≈26612.549999999999, and engines disagree on whether to round the
    shortest decimal repr half-up or truncate the true binary value). The
    Spark body demos
    ``F.round(decimal, 1)`` (HALF_UP per Spark's Decimal spec); the ORACLE
    does not mirror the decimal round — a 2dp price rounded to 1dp is a
    halfway tie on every ``.x5`` (6,013 rows at sf0.01, the same tie-dense
    hazard class as ``sql_temp_function``), so the oracle
    instead computes half-up by pure integer arithmetic
    (``(cents + 5) // 10``), which has no tie for any engine to break. The
    hash therefore pins Spark's decimal HALF_UP against the integer
    formula — bit-deterministic on both sides by construction.

    ln() is NOT correctly rounded by either engine's libm (JVM Math.log vs
    DuckDB's system libm drift in the last ulp on ~2% of rows), so price_ln is
    cast to REAL on both sides: a 1-ulp double disagreement survives float32
    rounding with probability ~2^-29. pow() is likewise not guaranteed
    correctly rounded, so disc_sq is a plain IEEE multiply (exact) on both
    sides. abs/ceil/floor/sqrt/mod ARE correctly rounded per IEEE 754 and
    compare bit-exactly as doubles.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice").cast("decimal(18,2)"), 1)
        .cast("double")
        .alias("price_round1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_kfloor"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
        # Domain-guarded on both engines: a
        # negative price (credit line) RAISES in DuckDB's ln while Spark
        # returns NULL — ln is NULL for nonpositive input on both now.
        F.when(
            F.col("l_extendedprice") > 0, F.log(F.col("l_extendedprice"))
        ).cast("float").alias("price_ln"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
    )


@query(
    "scalar_conditional",
    oracle="""
    SELECT
      o_orderkey,
      CASE
        WHEN o_totalprice > 300000 THEN 'high'
        WHEN o_totalprice > 100000 THEN 'mid'
        ELSE 'low'
      END AS price_band,
      coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
        AS is_priority,
      ifnull(nullif(o_custkey, 0), -1) AS custkey_or_neg1
    FROM orders
    WHERE o_orderkey % 15 = 0
    """,
    tags=("scalar", "conditional"),
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / ifnull battery."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 15 == 0)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("is_priority"),
        F.ifnull(F.nullif("o_custkey", F.lit(0)), F.lit(-1)).alias("custkey_or_neg1"),
    )


@query(
    "scalar_array",
    oracle=f"""
    WITH toks AS (
      SELECT
        doc_id,
        {oracle_words()}
          AS words
      FROM documents
    )
    SELECT
      doc_id,
      CAST(len(words) AS INTEGER) AS n_words,
      CAST(list_contains(words, 'spark') AS INTEGER) AS has_spark,
      COALESCE(array_to_string(list_sort(list_distinct(words)), ','), '')
        AS vocab,
      COALESCE(array_to_string(list_transform(words,
        x -> translate(x, 'abcdefghijklmnopqrstuvwxyz',
                          'ABCDEFGHIJKLMNOPQRSTUVWXYZ')), ','), '')
        AS words_upper,
      CAST(len(list_filter(words, x -> length(x) > 4)) AS INTEGER) AS n_long_words
    FROM toks
    WHERE doc_id % 25 = 0
    """,
    tags=("scalar", "array", "hof"),
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery + higher-order functions: split, size, contains,
    distinct+sort (deterministic serialization), transform, filter.
    All HOFs run in codegen — no UDFs.

    Degenerate-doc symmetry: text
    coalesces to '' on both engines (Spark's size(split(NULL)) is -1 and
    DuckDB's len(NULL) is NULL), and the serialized vocab/words_upper of
    an EMPTY word list is pinned to '' on both (Spark's array_join([])
    is '' but DuckDB 1.0.0's array_to_string([]) is NULL)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    ws_col = words("text")
    return d.select(
        "doc_id",
        F.size(ws_col).alias("n_words"),
        F.array_contains(ws_col, "spark").cast("int").alias("has_spark"),
        F.array_join(F.array_sort(F.array_distinct(ws_col)), ",").alias("vocab"),
        # ASCII translate, not upper(): Unicode casing is an ENGINE
        # convention, not a standard — Spark full-folds upper('ß')='SS',
        # upper('ﬁ')='FI' where DuckDB maps simply to 'ẞ' / 'ﬁ'.
        # The a-z translate is the
        # deterministic cross-engine contract; identical to upper() on
        # ASCII words.
        F.array_join(
            F.transform(
                ws_col,
                lambda x: F.translate(
                    x,
                    "abcdefghijklmnopqrstuvwxyz",
                    "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                ),
            ),
            ",",
        ).alias("words_upper"),
        F.size(F.filter(ws_col, lambda x: F.length(x) > 4)).alias("n_long_words"),
    )


@query(
    "scalar_array_explode",
    oracle=f"""
    SELECT word, COUNT(*) AS freq
    FROM (
      SELECT unnest({oracle_words()}) AS word
      FROM documents
    )
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT 20
    """,
    tags=("scalar", "array", "explode"),
    bench=True,
)
def scalar_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/UNNEST to a word-frequency top-20 — the tokenize→explode→
    count shape that underlies every corpus statistic at scale. Generator
    (explode) stays in the JVM; one agg shuffle; top-k via ordered limit."""
    d = load_table(spark, sf_dir, "documents")
    ws_col = words("text")
    return (
        d.select(F.explode(ws_col).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


@query(
    "scalar_json",
    oracle="""
    SELECT
      json_extract_string(props, '$.k') AS k_str,
      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
      COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
    tags=("scalar", "json"),
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column (reference's
    events fixture carries JSON props — FIXTURES.md): get_json_object +
    typed cast + aggregation over the extracted key."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    k = F.get_json_object("props", "$.k")
    return (
        e.select(
            k.alias("k_str"),
            k.cast("int").alias("k_int"),
        )
        .groupBy("k_str", "k_int")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_int").cast("long").alias("sum_k"),
        )
    )


@query(
    "scalar_json_struct",
    oracle="""
    SELECT
      event_type,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
      CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "json"),
)
def scalar_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct then aggregate — schema-on-read over a
    JSON payload column (the scale-correct alternative to repeated
    get_json_object calls when many keys are extracted)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    e = load_table(spark, sf_dir, "events")
    schema = StructType([StructField("k", IntegerType())])
    return (
        e.withColumn("p", F.from_json("props", schema))
        .groupBy("event_type")
        .agg(
            F.max(F.col("p.k")).alias("max_k"),
            F.min(F.col("p.k")).alias("min_k"),
        )
    )


@query(
    "scalar_variant",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
        AS sum_k,
      CAST(COUNT(*) FILTER (
        WHERE json_extract_string(props, '$.missing') IS NULL
      ) AS BIGINT) AS n_missing_null
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "variant", "semi-structured"),
)
def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type over the JSON payload column: parse_json once
    into the binary-encoded open-schema VARIANT, then path-access with
    variant_get (typed extraction) and try_variant_get (NULL, not error,
    on absent paths) — the modern semi-structured story: ingest without a
    declared schema, no schema migration when producers add fields, and
    no per-access string re-parse (the scale win over get_json_object:
    VARIANT decodes the JSON text ONCE per row; every subsequent path
    access reads the binary encoding).

    The DuckDB twin runs the same extractions through its JSON functions —
    typed values must agree exactly, which pins the VARIANT path's
    numeric semantics to the plain-JSON path's.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        e.select(
            "event_type",
            F.variant_get(v, "$.k", "int").alias("k"),
            F.try_variant_get(v, "$.missing", "int").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count(F.when(F.col("m").isNull(), 1)).cast("long").alias(
                "n_missing_null"
            ),
        )
    )


@query(
    "scalar_bitwise",
    oracle="""
    SELECT
      o_orderpriority,
      CAST(BIT_AND(o_orderkey) AS BIGINT) AS and_key,
      CAST(BIT_OR(o_orderkey) AS BIGINT) AS or_key,
      CAST(BIT_XOR(o_orderkey) AS BIGINT) AS xor_key,
      CAST(SUM(o_orderkey & 255) AS BIGINT) AS sum_low_byte,
      CAST(SUM(o_orderkey >> 4) AS BIGINT) AS sum_shifted
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("scalar", "bitwise"),
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise battery: BIT_AND/OR/XOR aggregates plus masking and shift
    scalars — the bit-manipulation layer under flag packing, bloom/bucket
    hashing, and the Z-order interleave (lakehouse_zorder_layout composes
    these). All integer ops, so both engines agree exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_orderkey").alias("and_key"),
        F.bit_or("o_orderkey").alias("or_key"),
        F.bit_xor("o_orderkey").alias("xor_key"),
        F.sum(F.col("o_orderkey").bitwiseAND(F.lit(255)))
        .cast("long")
        .alias("sum_low_byte"),
        F.sum(F.shiftright("o_orderkey", 4)).cast("long").alias("sum_shifted"),
    )


@query(
    "agg_boolean",
    oracle="""
    SELECT
      l_returnflag,
      BOOL_AND(l_quantity > 0) AS all_positive_qty,
      BOOL_OR(l_discount > 0.09) AS any_deep_discount,
      CAST(COUNT_IF(l_tax = 0) AS BIGINT) AS n_tax_free,
      CAST(COUNT_IF(l_extendedprice > 50000) AS BIGINT) AS n_large
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "boolean"),
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate battery: every/any (BOOL_AND/BOOL_OR) and
    count_if — the assertion layer of data-quality SQL (ALL rows satisfy
    X / ANY row violates Y), map-side combinable like any other aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.every(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.some(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_tax") == 0).alias("n_tax_free"),
        F.count_if(F.col("l_extendedprice") > 50000).alias("n_large"),
    )


@query(
    "scalar_collation",
    oracle="""
    WITH mixed AS (
      SELECT
        CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS s,
        n_chars
      FROM documents
    )
    SELECT
      min(s) AS group_key,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT s) AS BIGINT) AS n_case_variants,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM mixed
    GROUP BY lower(s)
    """,
    tags=("scalar", "collation", "string"),
)
def scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION support: grouping under the UTF8_LCASE collation
    merges case variants at the COMPARISON level — no lower() rewrite of
    the data, the engine's equality/hash itself becomes case-insensitive
    (the upgrade path for systems that scatter lower() across every
    predicate). Case diversity is injected deterministically (every even
    doc upper-cases its source), and the group key is reported via the
    binary MIN so output is deterministic even though the collated
    representative is not. The DuckDB twin groups by lower() — for ASCII
    the two equalities must coincide exactly.
    """
    d = load_table(spark, sf_dir, "documents")
    mixed = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("source"))
        .otherwise(F.col("source"))
        .alias("s"),
        "n_chars",
    )
    return (
        mixed.groupBy(F.collate("s", "UTF8_LCASE").alias("ck"))
        .agg(
            F.min(F.col("s").cast("string")).alias("group_key"),
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("s").cast("string")).alias(
                "n_case_variants"
            ),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .drop("ck")
    )


@query(
    "scalar_binary_encoding",
    oracle="""
    SELECT
      doc_id,
      CASE WHEN strlen(substr(text, 1, 24)) <= 57
           THEN base64(encode(substr(text, 1, 24))) END AS b64_prefix,
      hex(encode(substr(text, 1, 12))) AS hex_prefix,
      -- NULL text => NULL verdict on BOTH engines: the Spark side's
      -- byte-cap gate is NULL-valued for NULL text, while a bare ELSE 0
      -- here would claim a failed roundtrip for a payload that does not
      -- exist.
      CASE WHEN text IS NULL THEN NULL
           WHEN strlen(substr(text, 1, 57)) > 57 THEN NULL
           WHEN decode(from_base64(base64(encode(substr(text, 1, 57)))))
                = substr(text, 1, 57)
           THEN 1 ELSE 0 END AS roundtrip_ok,
      CASE WHEN strlen(substr(text, 1, 57)) <= 57
           THEN CAST(length(base64(encode(substr(text, 1, 57)))) AS BIGINT)
      END AS b64_len
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("scalar", "encoding", "binary"),
)
def scalar_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary↔text encoding battery: base64 and hex over UTF-8 bytes plus
    a base64 round-trip proof — the serialization layer under payload
    transport, cache keys, and wire formats.

    Both engines produce RFC-4648 base64 with '=' padding and UPPERCASE
    hex, so the encoded strings themselves hash-match (not just their
    lengths); the round-trip flag pins decode(unbase64(base64(x))) = x
    byte-exactly. Inputs stay ≤57 BYTES — Spark's base64 inserts MIME
    line breaks past 76 output chars where DuckDB never does (the one
    cross-engine divergence in this battery, documented instead of
    papered over). A char-sliced prefix of multibyte text can exceed the
    byte cap, so both engines NULL the
    base64 columns for any slice whose UTF-8 encoding is > 57 bytes — a
    no-op on ASCII, where 57 chars ARE 57 bytes. Pure codegen string ops.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    enc24 = F.encode(F.substring("text", 1, 24), "UTF-8")
    enc57 = F.encode(F.substring("text", 1, 57), "UTF-8")
    in_cap = F.length(enc57) <= 57  # length of BINARY = bytes
    return d.select(
        "doc_id",
        F.when(F.length(enc24) <= 57, F.base64(enc24)).alias("b64_prefix"),
        F.hex(F.encode(F.substring("text", 1, 12), "UTF-8")).alias("hex_prefix"),
        F.when(
            in_cap
            & (
                F.decode(F.unbase64(F.base64(enc57)), "UTF-8")
                == F.substring("text", 1, 57)
            ),
            1,
        )
        .otherwise(F.when(in_cap, 0))
        .alias("roundtrip_ok"),
        F.when(in_cap, F.length(F.base64(enc57)).cast("long")).alias(
            "b64_len"
        ),
    )


@query(
    "scalar_array_reduce",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             {oracle_words()} AS ws
      FROM documents WHERE doc_id < 200
    )
    SELECT
      doc_id,
      CAST(len(ws) AS BIGINT) AS n_words,
      -- COALESCE to the fold identities:
      -- DuckDB's list_sum/list_max of an EMPTY list are NULL, while the
      -- Spark fold's zero-token result is its (0, 0, 0) init struct.
      CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
           AS BIGINT) AS sum_len,
      CAST(COALESCE(list_max(list_transform(ws, x -> length(x))), 0)
           AS BIGINT) AS max_len,
      CAST(len(list_filter(ws, x -> length(x) >= 5)) AS BIGINT) AS n_long
    FROM w
    """,
    tags=("scalar", "array", "hof", "reduce"),
)
def scalar_array_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`F.aggregate` with a STRUCT accumulator — the fold/reduce member of
    the higher-order-function family (transform/filter/exists are covered
    by `scalar_array`): one pass over each array accumulates sum, max,
    and a predicate count simultaneously, then a finish lambda unpacks
    the struct. This is how per-row sketches over array columns avoid N
    passes.

    The oracle computes the same values through DuckDB's per-statistic
    list functions — different expression route, identical exact integers,
    which is precisely the point: the fold is semantics-preserving.
    Everything runs in codegen; zero shuffles.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ws = words("text")
    acc0 = F.struct(
        F.lit(0).alias("s"), F.lit(0).alias("m"), F.lit(0).alias("k")
    )
    folded = F.aggregate(
        ws,
        acc0,
        lambda acc, x: F.struct(
            (acc["s"] + F.length(x)).alias("s"),
            F.greatest(acc["m"], F.length(x)).alias("m"),
            (acc["k"] + F.when(F.length(x) >= 5, 1).otherwise(0)).alias("k"),
        ),
        lambda acc: acc,
    )
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        folded["s"].cast("long").alias("sum_len"),
        folded["m"].cast("long").alias("max_len"),
        folded["k"].cast("long").alias("n_long"),
    )


@query(
    "scalar_regex",
    oracle=r"""
    SELECT
      p_partkey,
      CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER)
        AS n_words_re,
      CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INTEGER)
        AS n_vowel_runs,
      regexp_extract(p_type, '^[A-Z]+') AS type_head,
      CAST(regexp_matches(p_type, '(TIN|NICKEL|BRASS|STEEL|COPPER)$')
        AS INTEGER) AS is_metal,
      regexp_replace(p_name, ' +', '_', 'g') AS name_snake_re,
      CAST(len(string_split(p_type, ' ')) AS INTEGER) AS n_type_tokens
    FROM part
    WHERE p_partkey % 7 = 0
    """,
    tags=("scalar", "string", "regex"),
)
def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery: extract-all, match counting, anchored extraction,
    boolean match, global replace, and split — the string ops a corpus
    cleaner leans on hardest.

    Cross-engine notes: patterns stay inside the character-class/anchor/
    alternation subset where Java regex (Spark) and RE2 (DuckDB) agree;
    `regexp_count` maps to DuckDB `len(regexp_extract_all(...))`, and the
    replace is written with an explicit `' +'` quantifier so the 'g' flag
    semantics match Spark's always-global `regexp_replace`. Booleans are
    cast to INTEGER because hash canonicalization of bool differs.

    Scale shape: pure map-side codegen over the `part` dim — no shuffle
    at all (the final compare's sort is the harness's, not the query's);
    at 100 TB this is a scan-bound projection with full pushdown.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    return p.select(
        "p_partkey",
        # guarded: ANSI-off size(NULL) is -1 while len(NULL) is NULL
        #
        F.when(
            F.col("p_name").isNotNull(),
            F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"), F.lit(0))),
        ).alias("n_words_re"),
        F.regexp_count("p_name", F.lit("[aeiou]+")).alias("n_vowel_runs"),
        F.regexp_extract("p_type", "^[A-Z]+", 0).alias("type_head"),
        F.col("p_type")
        .rlike("(TIN|NICKEL|BRASS|STEEL|COPPER)$")
        .cast("int")
        .alias("is_metal"),
        F.regexp_replace("p_name", " +", "_").alias("name_snake_re"),
        F.when(
            F.col("p_type").isNotNull(), F.size(F.split("p_type", " "))
        ).alias("n_type_tokens"),
    )
