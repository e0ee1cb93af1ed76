"""Custom Python DataSource (Spark 4 DataSource API) — a deterministic
partition-parallel event generator (SURVEY.md §2 Part B "Sources" [EXT]).

Spark 4's Python DataSource API lets a pure-Python class serve as a
first-class ``spark.read.format(...)`` source: the driver asks it for input
partitions, executors call ``read(partition)`` in parallel, and everything
downstream (filters, aggregates, joins) is ordinary Catalyst. This module
registers ``eventgen``, a synthetic event source whose every cell is a pure
integer function of the row id — so (a) partitions generate independently
with zero I/O or coordination, and (b) a SQL engine can recompute the exact
same rows from ``generate_series``, which is how the DuckDB oracle
hash-checks a source that has no backing files at all.

Scale story: a generator source is the standard way to load-test a
1000-executor cluster — data materializes inside each task at memory
bandwidth, any size, no storage. The same API shape (partitions() on the
driver, read() on executors) is how production Python sources wrap REST
APIs, message queues, or proprietary formats without a JVM connector.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

# Deterministic row formula, chosen to be exactly reproducible in int64 SQL:
# h(i) = (i * KNUTH) mod M;  value_i = h mod 10_000;  user_id = i mod 97;
# event_type cycles over 5 names. KNUTH * n stays far below 2^63.
_KNUTH = 2654435761
_MOD = 2147483647
_TYPES = ("click", "view", "purchase", "error", "signup")
_SCHEMA = "id BIGINT, user_id BIGINT, value_i BIGINT, event_type STRING"


def _make_datasource_class():
    """Build the DataSource from FUNCTION-LOCAL classes: Spark pickles the
    registered class (and later the reader + partitions) and unpickles
    them in separate Python processes — the planning runner and the
    executors — which do NOT necessarily have this package on their
    module path. cloudpickle serializes local classes by VALUE, so
    everything arrives self-contained wherever the driver was launched
    from. (A module-level class pickles by reference and fails with
    ModuleNotFoundError the moment the driver's cwd is not the repo.)"""
    knuth, mod, types, schema_str = _KNUTH, _MOD, _TYPES, _SCHEMA

    class RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class EventGenReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n_rows", 10_000))
            self.p = int(options.get("n_partitions", 8))
            self.lo = 0  # narrowed by pushed id-range filters
            self.hi = self.n
            self.type_eq = None  # narrowed by a pushed event_type equality

        def pushFilters(self, filters):
            """Filter pushdown (Spark 4.1 Python DataSource API): id-range
            predicates narrow the GENERATED range (whole partitions never
            materialize) and an event_type equality turns the row loop
            into a stride-5 walk (4/5 of the remaining rows never
            generate). Everything else is yielded back unhandled, so Spark
            keeps it as a post-scan Filter — the pushdown is allowed to be
            partial, never wrong."""
            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThan,
                GreaterThanOrEqual,
                LessThan,
                LessThanOrEqual,
            )

            for f in filters:
                col = f.attribute[0] if getattr(f, "attribute", None) else None
                if col == "id" and isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                elif col == "id" and isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                elif col == "id" and isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                elif col == "id" and isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                elif col == "event_type" and isinstance(f, EqualTo):
                    self.type_eq = f.value
                else:
                    yield f  # unsupported → Spark applies it post-scan

        def partitions(self):
            lo, hi = self.lo, max(self.lo, self.hi)
            span = hi - lo
            bounds = [lo + span * i // self.p for i in range(self.p + 1)]
            return [
                RangePartition(bounds[i], bounds[i + 1])
                for i in range(self.p)
            ]

        def read(self, part):
            start, step = part.start, 1
            if self.type_eq is not None:
                if self.type_eq not in types:
                    return  # no row can ever match
                t = types.index(self.type_eq)
                start, step = part.start + (t - part.start) % 5, 5
            for i in range(start, part.end, step):
                h = (i * knuth) % mod
                yield (i, i % 97, h % 10_000, types[i % 5])

    class EventGenDataSource(DataSource):
        """``spark.read.format("eventgen").option("n_rows", N).load()``."""

        @classmethod
        def name(cls) -> str:
            return "eventgen"

        def schema(self) -> str:
            return schema_str

        def reader(self, schema):
            return EventGenReader(self.options)

    return EventGenDataSource


EventGenDataSource = _make_datasource_class()


def _register_once(spark, source) -> None:
    """Register ``source`` on this session unless it already is. A
    registration lives in one session's state, but Spark's duplicate-name
    check looks at the ACTIVE session, so a new session that shares its
    context with one already holding the name could neither find the
    source nor register it; the session is made active for the call."""
    jsession = spark._jsparkSession
    if jsession.sessionState().dataSourceManager().dataSourceExists(source.name()):
        return
    jss = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jss.getActiveSession()
    jss.setActiveSession(jsession)
    try:
        spark.dataSource.register(source)
    finally:
        if prev.isDefined():
            jss.setActiveSession(prev.get())
        else:
            jss.clearActiveSession()


def register(spark) -> None:
    """Idempotently register the source on this session. Python-source
    filter pushdown ships behind a flag in Spark 4.1 — enable it here
    (runtime-settable SQL conf) so the reader's pushFilters hook is
    honored even on a plain driver-built session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    _register_once(spark, EventGenDataSource)


# -- registered query ---------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from biglake_iceberg_python_spark.functions.exprs import (  # noqa: E402
    cents,
    oracle_cents,
)
from biglake_iceberg_python_spark.plans.registry import query, scratch  # noqa: E402
from biglake_iceberg_python_spark.streaming.pipeline import (  # noqa: E402
    LAST_STREAMING_QUERIES,
)

_N_ROWS = 50_000


@query(
    "source_python_datasource",
    oracle=f"""
    WITH g AS (
      SELECT i.generate_series AS id,
             (i.generate_series * {_KNUTH}) % {_MOD} AS h
      FROM generate_series(0, {_N_ROWS - 1}) i
    )
    SELECT
      ['click','view','purchase','error','signup'][(id % 5) + 1]
        AS event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(COUNT(DISTINCT id % 97) AS BIGINT) AS n_users,
      CAST(SUM(h % 10000) AS BIGINT) AS sum_value
    FROM g GROUP BY 1
    """,
    tags=("source", "python-datasource", "generator"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the custom Python DataSource: 50k generated events
    across 8 independent partitions, rolled up per event type. Every cell
    is a pure int64 function of the row id, so the DuckDB oracle rebuilds
    the identical table from ``generate_series`` — a hash-level check of a
    source with no backing files. (Row volume is fixed by the source
    options, not sf_dir: the source IS the dataset.)"""
    register(spark)
    df = (
        spark.read.format("eventgen")
        .option("n_rows", _N_ROWS)
        .option("n_partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("value_i").alias("sum_value"),
    )


@query(
    "source_python_datasource_pushdown",
    oracle=f"""
    WITH g AS (
      SELECT i.generate_series AS id,
             (i.generate_series * {_KNUTH}) % {_MOD} AS h
      FROM generate_series(2000, 40999) i
      WHERE i.generate_series % 5 = 2
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(MIN(id) AS BIGINT) AS min_id,
      CAST(MAX(id) AS BIGINT) AS max_id,
      CAST(SUM(h % 10000) AS BIGINT) AS sum_value
    FROM g WHERE h % 10000 >= 5000
    """,
    tags=("source", "python-datasource", "pushdown"),
)
def source_python_datasource_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter pushdown through the custom Python DataSource: the id-range
    and event_type-equality predicates reach the reader's pushFilters()
    hook, which narrows the GENERATED id span and strides the row loop to
    the one matching type in 5 — rows outside the pushed predicates are
    never created, the Python-source analog of parquet row-group skipping
    (tests/test_operators.py asserts the narrowed partitions and the
    returned-unsupported residue directly on the reader). The value_i
    range predicate is NOT pushable and comes back to Spark as a post-scan
    Filter, proving partial pushdown composes. The oracle regenerates the
    same narrowed sequence in SQL.
    """
    register(spark)
    df = (
        spark.read.format("eventgen")
        .option("n_rows", _N_ROWS)
        .option("n_partitions", 8)
        .load()
        .filter(
            (F.col("id") >= 2000)
            & (F.col("id") < 41000)
            & (F.col("event_type") == "purchase")
            & (F.col("value_i") >= 5000)
        )
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.sum("value_i").alias("sum_value"),
    )


# -- streaming variant --------------------------------------------------------


def _make_stream_datasource_class():
    """Streaming twin of the generator (DataSourceStreamReader): offsets
    are row indexes, ``latestOffset`` advances by ``batch_size`` per
    micro-batch (rate limiting, as a Kafka source caps offsets per
    trigger), ``partitions(start, end)`` splits each offset range in two
    so every micro-batch is itself partition-parallel, and ``commit`` is
    the no-op a replayable source affords. Built function-locally for the
    same by-value pickling reason as the batch source."""
    knuth, mod, types, schema_str = _KNUTH, _MOD, _TYPES, _SCHEMA

    class RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class EventGenStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n_rows", 10_000))
            self.bs = int(options.get("batch_size", 2_500))
            self._hwm = 0

        def initialOffset(self):
            return {"i": 0}

        def latestOffset(self):
            self._hwm = min(self._hwm + self.bs, self.n)
            return {"i": self._hwm}

        def partitions(self, start, end):
            a, b = start["i"], end["i"]
            mid = (a + b) // 2
            return (
                [RangePartition(a, mid), RangePartition(mid, b)]
                if b > a + 1
                else [RangePartition(a, b)]
            )

        def read(self, part):
            for i in range(part.start, part.end):
                h = (i * knuth) % mod
                yield (i, i % 97, h % 10_000, types[i % 5])

        def commit(self, end):
            pass

    class EventGenStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "eventgen_stream"

        def schema(self) -> str:
            return schema_str

        def streamReader(self, schema):
            return EventGenStreamReader(self.options)

    return EventGenStreamDataSource


EventGenStreamDataSource = _make_stream_datasource_class()

_STREAM_N = 20_000


@query(
    "source_python_datasource_stream",
    oracle=f"""
    WITH g AS (
      SELECT i.generate_series AS id,
             (i.generate_series * {_KNUTH}) % {_MOD} AS h
      FROM generate_series(0, {_STREAM_N - 1}) i
    )
    SELECT
      ['click','view','purchase','error','signup'][(id % 5) + 1]
        AS event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(h % 10000) AS BIGINT) AS sum_value
    FROM g GROUP BY 1
    """,
    tags=("source", "streaming", "python-datasource", "generator"),
)
@scratch
def source_python_datasource_stream(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Consume the custom PYTHON STREAMING source to exhaustion: 20k rows
    arrive over >= 4 offset-bounded micro-batches (latestOffset advances
    2.5k per side of the split — rate limiting), aggregated statefully per
    event type. The 5-key global rollup is bounded state, so complete
    output mode is the correct choice here (unlike unbounded windows).
    ``processAllAvailable`` drains the stream deterministically — the
    DuckDB oracle recomputes the identical rollup from generate_series.
    The checkpoint lives under ``root``, whose basename names the sink's
    temp view; the view is dropped once the returned frame is analyzed.
    """
    import os

    _register_once(spark, EventGenStreamDataSource)
    src = (
        spark.readStream.format("eventgen_stream")
        .option("n_rows", _STREAM_N)
        .option("batch_size", 5_000)
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_i").alias("sum_value"),
    )
    name = os.path.basename(root)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        LAST_STREAMING_QUERIES["source_python_datasource_stream"] = q
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


# -- Python DataSource WRITER (the sink half of the API) ----------------------


def _make_sink_datasource_class():
    """Writer-capable Python DataSource (function-local classes for the
    same pickle-by-value reasons as the readers): each executor partition
    streams its rows into one uniquely-named CSV part file under
    ``path``, returns the file name + row count as its commit message,
    and the DRIVER-side commit() writes a _MANIFEST listing exactly the
    committed parts — the two-phase commit shape (task files are invisible
    until the job-level manifest lands; abort() deletes stragglers)."""
    import os as _os
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class PartFileCommit(WriterCommitMessage):
        def __init__(self, fname: str, n_rows: int):
            self.fname, self.n_rows = fname, n_rows

    class CsvSinkWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, rows):
            fname = f"part-{_uuid.uuid4().hex}.csv"
            n = 0
            tmp = _os.path.join(self.path, fname)
            with open(tmp, "w", encoding="utf-8") as f:
                for r in rows:
                    f.write(",".join("" if v is None else str(v) for v in r))
                    f.write("\n")
                    n += 1
            return PartFileCommit(fname, n)

        def commit(self, messages):
            manifest = _os.path.join(self.path, "_MANIFEST")
            with open(manifest, "w", encoding="utf-8") as f:
                for m in messages:
                    f.write(f"{m.fname},{m.n_rows}\n")

        def abort(self, messages):
            for m in messages:
                try:
                    _os.remove(_os.path.join(self.path, m.fname))
                except OSError:
                    pass

    class CsvSinkDataSource(DataSource):
        """``df.write.format("pycsvsink").option("path", dir).save()``."""

        @classmethod
        def name(cls) -> str:
            return "pycsvsink"

        def writer(self, schema, overwrite):
            return CsvSinkWriter(self.options)

    return CsvSinkDataSource


CsvSinkDataSource = _make_sink_datasource_class()

@query(
    "source_python_datasource_write",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM({oracle_cents('l_extendedprice')}) AS BIGINT) AS price_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("source", "python-datasource", "writer", "sink"),
)
@scratch
def source_python_datasource_write(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """WRITE through the custom Python DataSource sink, then read the
    files back — the writer half of the Python DataSource API
    (``DataSourceWriter.write`` per executor partition → commit message →
    driver-side ``commit()`` manifest; the two-phase protocol that makes
    a pure-Python sink atomic-at-job-granularity). The payload is the
    pricing rollup with money pre-quantized to integer CENTS JVM-side, so
    the bytes that cross the Python boundary are exact int64s and the
    read-back → oracle comparison is bit-deterministic.

    Scale note: each partition writes its own part file directly to
    storage and ships only (name, count) back to the driver — commit cost
    is O(partitions), data never funnels through one node; abort()
    deletes uncommitted parts, same contract as Spark's file sinks.
    """
    from biglake_iceberg_python_spark.sources.tables import load_table as _lt

    _register_once(spark, CsvSinkDataSource)
    li = _lt(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_extendedprice")).alias("price_cents"),
    )
    agg.write.format("pycsvsink").option("path", root).mode("append").save()
    return (
        spark.read.schema(
            "l_returnflag string, l_linestatus string, "
            "n_rows bigint, price_cents bigint"
        )
        .csv(f"{root}/part-*.csv")
    )


def _make_stream_sink_datasource_class():
    """STREAMING writer-capable Python DataSource: the
    ``DataSourceStreamWriter`` protocol — per-micro-batch, each executor
    partition writes one part file named by (epoch, uuid), and the
    driver-side ``commit(messages, batchId)`` appends a manifest line per
    batch. Naming parts by epoch makes a replayed batch overwrite-free
    and the manifest the dedup point — the idempotence contract streaming
    file sinks need under retry."""
    import os as _os
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class PartFileCommit(WriterCommitMessage):
        def __init__(self, fname: str, n_rows: int):
            self.fname, self.n_rows = fname, n_rows

    class CsvStreamSinkWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, rows):
            fname = f"part-{_uuid.uuid4().hex}.csv"
            n = 0
            with open(_os.path.join(self.path, fname), "w", encoding="utf-8") as f:
                for r in rows:
                    f.write(",".join("" if v is None else str(v) for v in r))
                    f.write("\n")
                    n += 1
            return PartFileCommit(fname, n)

        def commit(self, messages, batchId):
            manifest = _os.path.join(self.path, "_STREAM_MANIFEST")
            with open(manifest, "a", encoding="utf-8") as f:
                for m in messages:
                    f.write(f"{batchId},{m.fname},{m.n_rows}\n")

        def abort(self, messages, batchId):
            for m in messages:
                try:
                    _os.remove(_os.path.join(self.path, m.fname))
                except OSError:
                    pass

    class CsvStreamSinkDataSource(DataSource):
        """``df.writeStream.format("pycsvstreamsink").option("path", d)``."""

        @classmethod
        def name(cls) -> str:
            return "pycsvstreamsink"

        def streamWriter(self, schema, overwrite):
            return CsvStreamSinkWriter(self.options)

    return CsvStreamSinkDataSource


CsvStreamSinkDataSource = _make_stream_sink_datasource_class()

@query(
    "source_python_datasource_stream_write",
    oracle=f"""
    WITH g AS (
      SELECT i.generate_series AS id,
             (i.generate_series * {_KNUTH}) % {_MOD} AS h
      FROM generate_series(0, {_STREAM_N - 1}) i
    )
    SELECT
      ['click','view','purchase','error','signup'][(id % 5) + 1]
        AS event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(h % 10000) AS BIGINT) AS sum_value
    FROM g GROUP BY 1
    """,
    tags=("source", "streaming", "python-datasource", "writer", "sink"),
)
@scratch
def source_python_datasource_stream_write(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Python STREAMING source → Python STREAMING sink, end to end: the
    20k-row generator stream is written append-mode through the custom
    ``DataSourceStreamWriter`` (per-partition part files, per-batch
    driver manifest), drained to exhaustion, then the part files are read
    back and rolled up — proving the streaming writer protocol (write →
    per-batch commit → manifest) loses nothing and duplicates nothing
    across the >=4 rate-limited micro-batches. The oracle recomputes the
    rollup from generate_series; counts and int64 sums must agree
    exactly, so a dropped part file, a double-committed batch, or a
    truncated write all hash-fail.

    Scale: same contract as Spark's own file sinks — executor partitions
    write straight to storage, the driver sees only (epoch, name, count)
    triples, and replay idempotence hangs on the batch manifest, not on
    re-reading data.
    """
    _register_once(spark, EventGenStreamDataSource)
    _register_once(spark, CsvStreamSinkDataSource)
    src = (
        spark.readStream.format("eventgen_stream")
        .option("n_rows", _STREAM_N)
        .option("batch_size", 5_000)
        .load()
    )
    q = (
        src.select("id", "event_type", "value_i")
        .writeStream.format("pycsvstreamsink")
        .option("path", root)
        .outputMode("append")
        .option("checkpointLocation", f"{root}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.schema(
        "id bigint, event_type string, value_i bigint"
    ).csv(f"{root}/part-*.csv")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_i").alias("sum_value"),
    )
