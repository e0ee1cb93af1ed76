"""Structured Streaming plumbing: chunked file-source replay of the
``events`` table (SURVEY.md §2B streaming rows; M3 in the build plan).

The driver testdata is static parquet, so streams are simulated the
standard way: split events into 4 time-contiguous files in a temp dir and
stream them with ``maxFilesPerTrigger=1``. A replay with the flush
sentinel runs 4 data micro-batches — the sentinel row rides in the
last-arriving chunk — plus 1 no-data batch, in which the sentinel's
watermark finalizes and evicts every remaining window. Everything
downstream (watermarks, windows, stateful dedup, foreachBatch sinks) is
exactly the code that would run against Kafka/files in production — only
the source line changes.

Scale notes: a file-source stream partitions each micro-batch like any
parquet scan; stateful operators shuffle on their keys with state kept in
the state store (RocksDB on a real cluster). The state partition count is
sized from the replay's input bytes (see ``run_stream_to_memory``).
Watermarks bound that state — every windowed query here sets one.

Lifetimes: the staged chunks are a per-process cache under one temp root
that is removed at interpreter exit. Every memory-sink query ends with
``run_stream_to_memory``, which owns the rest of its run — the
checkpoint, the sink's temp view and the handle record in
``LAST_STREAMING_QUERIES`` — so a query leaves nothing in the caller's
session or temp dir.
"""

from __future__ import annotations

import math
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from biglake_iceberg_python_spark.functions.exprs import EVENT_VALUE_CAP
from biglake_iceberg_python_spark.plans.registry import process_dir
from biglake_iceberg_python_spark.session import session_conf
from biglake_iceberg_python_spark.sources.tables import parquet_schema, size_bytes


# Staged-chunk cache: the replay input is a pure function of the events
# file, keyed on its (path, mtime_ns, size) so a rewritten file is staged
# again, and of (inject_dup_every, flush_sentinel, ordered). Queries
# sharing a config reuse one on-disk staging; checkpoints are per-run state
# and never live here.
_STAGED: dict[tuple[str, int, int, int | None, bool, bool], str] = {}

# Every replay splits events into this many time-contiguous chunks; the
# stream_late_data_drop oracle replays the same 4-way split in SQL.
_N_CHUNKS = 4

# Terminated StreamingQuery handles by registered query name, recorded on
# every run so tests can assert state-store behavior (eviction, watermark
# drops) from the progress telemetry without re-plumbing the queries.
LAST_STREAMING_QUERIES: dict[str, StreamingQuery] = {}

# Event type of the watermark-flush sentinel row (see stage_event_chunks).
# Consumers running APPEND output filter it out AFTER withWatermark so it
# advances the watermark without entering any aggregate.
SENTINEL_EVENT_TYPE = "__flush__"

# How far past the last real event the sentinel sits. Must exceed every
# consumer's watermark delay + longest window/gap so the final watermark
# passes every window end and all state flushes + evicts.
_SENTINEL_HORIZON_S = 2 * 24 * 3600


def stage_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    inject_dup_every: int | None = None,
    flush_sentinel: bool = False,
    ordered: bool = True,
) -> str:
    """Write events as 4 parquet files for replay (cached per config) and
    return their directory.

    ``inject_dup_every=k`` duplicates every k-th event (same event_id) to
    exercise stateful dedup. ``flush_sentinel=True`` appends a single
    ``SENTINEL_EVENT_TYPE`` row 2 days past the max event time to the
    last-arriving chunk — the standard trick to close out APPEND-mode
    windows on a finite replay. The replay is then 4 data batches plus 1
    no-data batch: inside a batch Spark drops late rows and evicts state
    against the PREVIOUS batch's watermark, so the last chunk is handled
    exactly as if the sentinel were absent; the sentinel's watermark then
    moves past every real window's end, and the no-data batch Spark runs
    for that watermark change finalizes, emits and evicts them all before
    the availableNow trigger terminates. On a live stream new events play
    this role and no sentinel is needed.

    ``ordered=False`` stages the same time-contiguous chunks but permutes
    their ARRIVAL order (odd-index chunks first, then even) — the
    out-of-order arrival case: a late chunk lands after the watermark has
    already advanced past it, so the late-data query exercises watermark
    DROPS rather than a clean ordered replay. (The events table's natural
    row order is itself time-sorted, so disorder must come from arrival
    order, not row order.)
    """
    # Watermarks require TIMESTAMP (an instant), not TIMESTAMP_NTZ. Pin the
    # session to UTC so the NTZ→instant cast and every downstream
    # window-start rendering are timezone-independent, whatever TZ the host
    # session was built with. Must happen on every call (cached or not).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = os.path.join(sf_dir, "events.parquet")
    st = os.stat(events)
    key = (events, st.st_mtime_ns, st.st_size, inject_dup_every, flush_sentinel, ordered)
    cached = _STAGED.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    input_dir = process_dir("stream_events_")
    # Stage with pyarrow, not a Spark write job: this is test-harness
    # plumbing (simulating a stream source from static parquet), so the
    # ~seconds of Spark job overhead would be pure bench noise. The ns→µs
    # truncation matches Spark's `ts div 1000`; tagging the column UTC
    # makes Spark read it as TIMESTAMP (an instant) — identical to the
    # previous NTZ-cast-under-UTC-session staging, which watermarks need.
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(events)
    # DEAD-LETTER at ingestion (round-10 events parity sweep, extending
    # the round-9 stateful-sessionization fix to the whole streaming
    # surface): an event with no event-time cannot participate in ANY
    # watermark-driven computation — Spark's window() silently drops it,
    # NaT kills applyInPandasWithState, and each oracle would have to
    # guess which partial fate it met. Dropping it at the source mirrors
    # production (route to a dead-letter queue, alert, reprocess) and
    # every stream oracle carries the matching `WHERE ts IS NOT NULL`.
    import pyarrow.compute as pc

    t = t.filter(pc.is_valid(t.column("ts")))
    # Non-finite measures reduce to NULL at ingestion (round-10 NaN/Inf
    # probe): NaN orders ABOVE everything on both engines so it slips
    # `> 0` guards, and DuckDB's DECIMAL casts raise where Spark ANSI-off
    # NULLs — the missing-measure (NULL value) semantics are already
    # parity-verified, so non-finite folds into that class. Oracle twin:
    # `* REPLACE (CASE WHEN isfinite(value) ...)` in every stream oracle.
    # is_finite AND |v| < 1e4 (round-10 out-of-range probe): a FINITE
    # 5e16 measure overflows the DECIMAL(18,2) cents cast — DuckDB and
    # Spark-ANSI raise, Spark ANSI-off silently NULLs — and even modest
    # out-of-domain values overflow the exact-moment family's int64 sums
    # of squared cents (DuckDB's HUGEINT-to-BIGINT cast raises, Spark
    # wraps). The cap is the int64 moment budget, an order of magnitude
    # above the genuine domain ceiling (~560). Same fold as
    # eventflow._timed_events; oracle twin carries the matching cap.
    vidx = t.schema.get_field_index("value")
    vcol = t.column("value")
    ok = pc.and_kleene(
        pc.is_finite(vcol), pc.less(pc.abs(vcol), EVENT_VALUE_CAP)
    )
    t = t.set_column(vidx, "value", pc.if_else(ok, vcol, None))
    idx = t.schema.get_field_index("ts")
    ts_utc = t.column("ts").cast(pa.timestamp("us"), safe=False).cast(
        pa.timestamp("us", tz="UTC")
    )
    t = t.set_column(idx, "ts", ts_utc)
    if inject_dup_every:
        ids = t.column("event_id").to_numpy()
        t = pa.concat_tables([t, t.filter(pa.array(ids % inject_dup_every == 0))])
    # Event-time-ordered replay: sort by ts (AFTER dup injection, so an
    # injected duplicate lands at its original event time), slice into
    # contiguous time ranges, and stage with strictly increasing mtimes —
    # Spark's file source orders files by (mtime, path)
    # (FileStreamSource.fetchAllFiles sorts by modification time; behavior
    # verified on the pinned pyspark 4.1.x — tests/test_streaming_state.py
    # would fail loudly if an upgrade changed it), so chunk i replays
    # before chunk i+1. This models a quasi-ordered production stream
    # (Kafka with bounded disorder) and is what lets the windowed queries
    # run APPEND output with a minutes-scale watermark: chunk i+1's min ts
    # >= chunk i's max ts, so nothing is ever late, while the watermark
    # still finalizes + evicts old windows batch by batch.
    # (ts, event_id) — not ts alone: chunk bounds are row-index slices, so
    # a global same-µs tie straddling a boundary would make the chunk
    # assignment depend on sort stability, and the watermark-progression
    # oracle (stream_late_data_drop) replays chunking with the same
    # two-key ORDER BY. Generated data has unique ts today; the tie-break
    # removes the latent assumption. (Injected duplicates tie on BOTH
    # keys, but the two copies are identical rows — either order stages
    # the same bytes.)
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = t.num_rows
    bounds = [n * i // _N_CHUNKS for i in range(_N_CHUNKS + 1)]
    now = time.time()
    # Arrival order: identity for the ordered replay; odds-then-evens for
    # the out-of-order case (chunk 1 and 3 arrive before 0 and 2, so the
    # watermark races ahead and the even chunks arrive late).
    arrival = (
        list(range(_N_CHUNKS))
        if ordered
        else [i for i in range(_N_CHUNKS) if i % 2] + [i for i in range(_N_CHUNKS) if not i % 2]
    )
    chunks = [t.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(_N_CHUNKS)]
    if flush_sentinel:
        # Empty stage (0-row events table, or every row dead-lettered):
        # pc.max is NULL — anchor the sentinel at epoch 0 so the stream
        # still gets its one watermark-advancing row and terminates with
        # an empty result, matching the oracle's empty scan. (Round-10
        # empty-table parity axis: 11 streaming queries crashed here on
        # None + int.)
        max_us = pc.max(t.column("ts")).cast(pa.int64()).as_py() or 0
        sentinel_ts = pa.scalar(
            max_us + _SENTINEL_HORIZON_S * 1_000_000, pa.timestamp("us", tz="UTC")
        )
        row = {
            "event_id": [-1],
            "ts": [sentinel_ts],
            "user_id": [-1],
            "event_type": [SENTINEL_EVENT_TYPE],
            "value": [0.0],
            "props": [""],
        }
        sent = pa.table(
            {f.name: pa.array(row[f.name], f.type) for f in t.schema},
            schema=t.schema,
        )
        chunks[arrival[-1]] = pa.concat_tables([chunks[arrival[-1]], sent])
    for pos, i in enumerate(arrival):
        path = os.path.join(input_dir, f"chunk_{i:03d}.parquet")
        pq.write_table(chunks[i], path)
        os.utime(path, (now + 10 * pos, now + 10 * pos))
    _STAGED[key] = input_dir
    return input_dir


def read_event_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over the staged chunks, one file per trigger.

    File-source streams require a user-supplied schema; it comes from the
    package's schema cache, so it is inferred (a footer-listing Spark job)
    once per staging, not once per query.
    """
    return (
        spark.readStream.schema(parquet_schema(spark, input_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def _state_partitions(spark: SparkSession, input_dir: str) -> int:
    """State-store partition count for a replay of ``input_dir``:
    ``ceil(bytes / advisoryPartitionSizeInBytes)`` clamped to
    ``[1, defaultParallelism]`` — the rule AQE applies when it coalesces a
    batch shuffle, which streaming runs without. Each micro-batch pays a
    fixed state-commit cost per partition, so a small replay gets 1."""
    n_bytes = sum(e.stat().st_size for e in os.scandir(input_dir))
    advisory = size_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    n = math.ceil(n_bytes / advisory)
    return min(max(n, 1), spark.sparkContext.defaultParallelism)


def run_stream_to_memory(
    sdf: DataFrame, query_name: str, output_mode: str, input_dir: str
) -> DataFrame:
    """Run the streaming query to completion (availableNow) into a memory
    sink and return the sink's rows — the one ending of every memory-sink
    query.

    The run owns what it creates. The checkpoint lives in a temp dir that
    is removed when the run ends. The sink's temp view
    (``{query_name}_<hex>``) is dropped once the returned frame is
    analyzed; the frame keeps the sink's rows. The terminated query is
    recorded in ``LAST_STREAMING_QUERIES[query_name]``, so tests can
    inspect its progress telemetry — e.g. assert that the watermark
    actually evicted finalized windows. When start or the run raises, the
    view and the checkpoint still go.

    ``spark.sql.shuffle.partitions`` is set from the bytes of the staged
    ``input_dir`` for the run (see ``_state_partitions``), so the state
    store gets one partition per advisory-size slice of input; the count
    is fixed at the first checkpoint for the life of the query. The
    session value is restored (or unset) afterwards, also when the query
    fails.
    """
    spark = sdf.sparkSession
    sink = f"{query_name}_{uuid.uuid4().hex[:8]}"
    n_parts = str(_state_partitions(spark, input_dir))
    try:
        # ignore_cleanup_errors: a state-store maintenance pass may still
        # write into the checkpoint while it is removed; a leftover file
        # must not fail a finished run.
        with tempfile.TemporaryDirectory(
            prefix="stream_ckpt_", ignore_cleanup_errors=True
        ) as ckpt, session_conf(spark, {"spark.sql.shuffle.partitions": n_parts}):
            q = (
                sdf.writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        LAST_STREAMING_QUERIES[query_name] = q
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)


def run_stream_foreach_batch(
    sdf: DataFrame, query_name: str, batch_fn, checkpoint_dir: str
) -> None:
    """Run the stream to completion through a foreachBatch sink and record
    the terminated query in ``LAST_STREAMING_QUERIES[query_name]``, so
    tests can assert offset/progress telemetry (e.g. that a restarted run
    processed only the new files). The checkpoint is the caller's: a
    restart reuses it across two runs."""
    q = (
        sdf.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_STREAMING_QUERIES[query_name] = q
