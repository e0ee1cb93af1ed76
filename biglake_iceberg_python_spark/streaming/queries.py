"""Registered streaming queries: tumbling/sliding/session windows,
stateful dedup, foreachBatch incremental upsert.

Correctness strategy (SURVEY.md §5 / M3): every streaming query replays the
full events table deterministically and is compared against its BATCH TWIN
— the identical window semantics in plain SQL — executed by DuckDB. The
streaming machinery (micro-batches, state store, triggers) must therefore
reproduce the batch answer exactly, which is Spark's own exactly-once
guarantee under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.functions.exprs import (
    cents,
    dec,
    dsum,
    oracle_cents,
    oracle_dsum,
    oracle_epoch_s,
    oracle_events,
)
from biglake_iceberg_python_spark.plans.registry import query, scratch
from biglake_iceberg_python_spark.session import session_conf
from biglake_iceberg_python_spark.sources.tables import load_table
from biglake_iceberg_python_spark.streaming.pipeline import (
    LAST_STREAMING_QUERIES,  # noqa: F401 - re-exported for the tests
    SENTINEL_EVENT_TYPE,
    read_event_stream,
    run_stream_foreach_batch,
    run_stream_to_memory,
    stage_event_chunks,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT
      strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
        AS window_start,
      event_type,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS sum_value
    FROM {oracle_events()} events
    WHERE event_type IN ('purchase', 'error')
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
    bench=True,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (10-min windows) in APPEND
    output with a 10-minute watermark over the event-time-ordered replay;
    must equal the batch twin.

    This is the bounded-state shape: each window is finalized, emitted
    once, and EVICTED as soon as the watermark moves 10 minutes past its
    end — state is O(open windows), not O(stream history). The staged
    flush sentinel (2 days past the last real event) closes out the final
    windows; it passes the filter so it reaches the watermark node, but its
    own far-future window is never finalized before the trigger ends, so it
    cannot leak into the output. Tests assert eviction via lastProgress.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    s = read_event_stream(spark, input_dir).filter(
        F.col("event_type").isin("purchase", "error", SENTINEL_EVENT_TYPE)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )
    )
    sink = run_stream_to_memory(agg, "stream_tumbling_window", "append", input_dir)
    return sink.select(
        F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH offs AS (SELECT unnest([0, 10]) AS off_min),
    assigned AS (
      SELECT
        time_bucket(INTERVAL '10 minutes', e.ts)
          - to_minutes(CAST(o.off_min AS BIGINT)) AS window_start,
        e.value
      FROM {oracle_events()} e CROSS JOIN offs o
      WHERE e.event_type = 'purchase'
    )
    SELECT
      strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS sum_value
    FROM assigned
    GROUP BY 1
    """,
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (20-min length, 10-min slide):every event lands in 2
    windows. Batch twin assigns each event to both candidate window starts
    (bucket − {0,10} minutes) — identical overlap semantics in plain SQL.

    APPEND output + 10-min watermark (see stream_tumbling_window): both of
    the sentinel's far-future windows stay unfinalized, every real window
    is flushed and evicted.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    s = read_event_stream(spark, input_dir).filter(
        F.col("event_type").isin("purchase", SENTINEL_EVENT_TYPE)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "20 minutes", "10 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )
    )
    sink = run_stream_to_memory(agg, "stream_sliding_window", "append", input_dir)
    return sink.select(
        F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "stream_session_window",
    oracle=f"""
    WITH ordered AS (
      SELECT
        user_id, ts, value,
        -- >= (not >): Spark session windows are half-open
        -- [start, start+gap), so an event exactly gap after its
        -- predecessor starts a NEW session.
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  >= INTERVAL '30 minutes'
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM {oracle_events()} events
    ), sessions AS (
      SELECT
        user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT
      user_id,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
    tags=("streaming", "window", "session"),
    bench=True,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — Spark's
    session_window merges events into variable-length sessions in the state
    store; the batch twin is the classic gaps-and-islands SQL (lag → gap
    flag → running sum → group), proving the semantics line up exactly.

    APPEND output + 10-min watermark: a session is finalized and evicted
    once the watermark passes its last event + the 30-min gap — state holds
    only sessions that could still grow. The ordered replay means a
    session can still merge across chunk boundaries before its close. The
    sentinel (user_id −1, 2 days ahead) flushes the last real sessions; its
    own session never closes, so it never reaches the sink.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    s = read_event_stream(spark, input_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )
    )
    sink = run_stream_to_memory(agg, "stream_session_window", "append", input_dir)
    return sink.select(
        "user_id",
        F.date_format(F.col("session_window.start"), _TS_FMT).alias("session_start"),
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "stream_tumbling_update",
    oracle=f"""
    SELECT
      strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S')
        AS window_start,
      event_type,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS sum_value
    FROM {oracle_events()} events
    WHERE event_type IN ('purchase', 'error')
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "update-mode"),
)
def stream_tumbling_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows in UPDATE output mode — the third output mode,
    complementing the append (stream_tumbling_window) and complete
    (stream_static_join) variants: each micro-batch emits only the windows
    it CHANGED, re-emitting a window every time new events land in it.
    This is the low-latency dashboard shape: results appear immediately
    instead of waiting for the watermark to finalize the window, at the
    cost of downstream consumers handling upserts.

    The memory sink therefore holds every intermediate version of each
    window; the batch-side rollup reconstructs the final state by keeping,
    per window, the row with the highest n_events — within one window the
    count strictly increases across re-emissions, so the argmax row IS the
    last version, deterministically (ROW_NUMBER needs no tiebreak). No
    flush sentinel is needed: update mode emits state as it changes, not
    at watermark passage. The batch twin is the same final aggregate.

    DAY-length windows (vs the append variant's 10 minutes) make the
    re-emission path structurally exercised on the replay: each chunk
    boundary falls inside an occupied day, so boundary windows emit one
    version per contributing batch — asserted by the sink-rows >
    final-rows check in tests/test_streaming_state.py. (At the replay's
    event sparsity, 10-minute windows are near-all singletons and an
    update-mode run would degenerate to append behavior.)
    """
    from pyspark.sql import Window

    input_dir = stage_event_chunks(spark, sf_dir)
    s = read_event_stream(spark, input_dir).filter(
        F.col("event_type").isin("purchase", "error")
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )
    )
    sink = run_stream_to_memory(agg, "stream_tumbling_update", "update", input_dir)
    w = Window.partitionBy("window", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
        )
    )


@query(
    "stream_dedup_rocksdb",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_unique_events
    FROM {oracle_events()} events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "stateful", "watermark", "rocksdb"),
)
def stream_dedup_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded stateful dedup running on the ROCKSDB state store
    provider — the production backend when state exceeds executor heap:
    keys live in off-heap RocksDB with incremental (changelog) checkpoints,
    so a 100 TB stream's dedup state is bounded by local disk, not memory,
    and recovery replays a changelog instead of full snapshots.

    Same semantics and batch twin as stream_dedup_within_watermark (the
    provider must be invisible to results — that IS the assertion); the
    provider conf is read at query START, so it is set just for this
    launch and restored after, leaving other queries on the default
    HDFS-backed heap provider.
    """
    input_dir = stage_event_chunks(
        spark, sf_dir, inject_dup_every=10, flush_sentinel=True
    )
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with session_conf(
        spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}
    ):
        s = read_event_stream(spark, input_dir)
        deduped = s.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        sink = run_stream_to_memory(
            deduped.select("event_id", "event_type"),
            "stream_dedup_rocksdb", "append", input_dir,
        )
    return (
        sink.filter(~F.col("event_type").eqNullSafe(SENTINEL_EVENT_TYPE))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )


@query(
    "stream_dedup",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_unique_events
    FROM {oracle_events()} events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "stateful"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful exactly-once dedup by event_id: the replay INJECTS a
    duplicate of every 10th event across chunk boundaries; streaming
    dropDuplicates must restore the original unique set (batch twin: plain
    per-type counts of the undoctored table).

    Production note: unbounded dedup state grows forever — pair the key
    with a watermark (dropDuplicatesWithinWatermark) when ids can't recur
    after a horizon. Here the id space is finite so plain state is right.
    """
    input_dir = stage_event_chunks(spark, sf_dir, inject_dup_every=10)
    s = read_event_stream(spark, input_dir)
    deduped = s.dropDuplicates(["event_id"])
    sink = run_stream_to_memory(
        deduped.select("event_id", "event_type"), "stream_dedup", "append", input_dir
    )
    return (
        sink.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )


@query(
    "stream_dedup_within_watermark",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_unique_events
    FROM {oracle_events()} events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "stateful", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded stateful dedup: dropDuplicatesWithinWatermark
    keeps each event_id in state only until the watermark passes its event
    time + the 30-min delay — the production shape when duplicates (retries,
    at-least-once sources) can only recur within a bounded horizon, unlike
    stream_dedup's grow-forever key set.

    Correctness on the replay: injected duplicates carry their original
    event time, and the event-time-ordered chunks mean a duplicate always
    arrives while the watermark is still behind its timestamp — squarely
    inside the dedup horizon — so the exact unique set is restored and the
    batch twin (per-type counts of the undoctored table) holds. The flush
    sentinel drives the final watermark 2 days ahead so ALL real keys are
    evicted before termination (tests assert ≤1 state row remains); the
    sentinel row itself is first-seen, hence emitted, and filtered out in
    the batch-side rollup.
    """
    input_dir = stage_event_chunks(
        spark, sf_dir, inject_dup_every=10, flush_sentinel=True
    )
    s = read_event_stream(spark, input_dir)
    deduped = s.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = run_stream_to_memory(
        deduped.select("event_id", "event_type"),
        "stream_dedup_within_watermark", "append", input_dir,
    )
    return (
        sink.filter(~F.col("event_type").eqNullSafe(SENTINEL_EVENT_TYPE))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )


@query(
    "stream_late_data_drop",
    # The drop set IS SQL-expressible because the staging is deterministic:
    # chunks are quantile slices of the (ts, event_id)-sorted table (row j
    # of n → chunk floor((4j+3)/n), matching the staging's n*i//4 bounds and
    # its two-key sort — no reliance on ts uniqueness or sort stability;
    # the oracle's row_number uses the same keys), arrival order is odds-then-evens
    # (chunk→pos: 1→0, 3→1, 0→2, 2→3), and Spark's watermark entering
    # batch p is max event time over batches q<p (post-type-filter, as the
    # stream filters before withWatermark) minus 10 minutes. A row
    # survives iff its 10-min window end exceeds that watermark. The
    # sentinel rides in the last-arriving chunk (chunk 2), so it moves the
    # watermark only after that batch; the closing no-data batch then
    # finalizes every surviving window (the sentinel's own never closes).
    # Verified exact vs the engine at sf0.001/0.01/0.1.
    oracle=f"""
    WITH allrows AS (
      SELECT ts, event_type,
             row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM {oracle_events()} events
    ), chunked AS (
      -- floor((4·rn+3)/n) is the EXACT inverse of the staging's
      -- n*i//4 slice bounds for every n; the simpler floor(4·rn/n)
      -- coincides only when n % 4 = 0 (true at every shipped SF, but a
      -- latent off-by-one for other corpus sizes).
      SELECT ts, event_type, CAST(floor((4.0 * rn + 3) / n) AS INT) AS chunk
      FROM allrows
    ), typed AS (
      SELECT ts, event_type,
             CASE chunk WHEN 1 THEN 0 WHEN 3 THEN 1 WHEN 0 THEN 2
                  ELSE 3 END AS pos
      FROM chunked WHERE event_type IN ('purchase', 'error')
    ), pos_max AS (
      SELECT pos, max(ts) AS mx FROM typed GROUP BY pos
    ), wm AS (
      SELECT p.pos, max(q.mx) - INTERVAL '10 minutes' AS wmark
      FROM pos_max p LEFT JOIN pos_max q ON q.pos < p.pos
      GROUP BY p.pos
    ), surv AS (
      SELECT to_timestamp(floor(epoch(t.ts) / 600) * 600) AS ws,
             t.event_type
      FROM typed t JOIN wm ON t.pos = wm.pos
      WHERE wm.wmark IS NULL
         OR to_timestamp(floor(epoch(t.ts) / 600) * 600)
            + INTERVAL '10 minutes' > wm.wmark
    )
    SELECT CAST(count(DISTINCT (ws, event_type)) AS BIGINT) AS n_windows,
           CAST(count(*) AS BIGINT) AS n_surviving_events
    FROM surv
    """,
    tags=("streaming", "watermark", "late-data"),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: an OUT-OF-ORDER replay (time-contiguous chunks
    arrive odds-first, so even chunks land after the watermark has raced
    past them) against a tight 10-min watermark — rows arriving after the
    watermark passed their window are DROPPED, exactly what protects state
    size on a disordered production stream. Complements the ordered-replay
    window queries, which exercise the nothing-late path.

    The oracle replays the same watermark progression in SQL (see the
    registration comment); the pytest twin additionally asserts via
    lastProgress that numRowsDroppedByWatermark > 0 and the surviving
    count < the full count.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True, ordered=False)
    s = read_event_stream(spark, input_dir).filter(
        F.col("event_type").isin("purchase", "error", SENTINEL_EVENT_TYPE)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = run_stream_to_memory(agg, "stream_late_data_drop", "append", input_dir)
    # coalesce: zero surviving windows (empty stage) must report 0
    # surviving events, the oracle's COUNT(*).
    return sink.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.coalesce(F.sum("n_events"), F.lit(0))
        .cast("long")
        .alias("n_surviving_events"),
    )


def _make_user_upsert(state):
    """foreachBatch sink: upsert each micro-batch's per-user partials
    (add counts / decimal sums) into a SnapshotTable — shared by the
    single-run materialized-view query and the restart/recovery query.

    IDEMPOTENT per ``batch_id`` (the standard foreachBatch pattern the
    exactly-once claim requires): Structured Streaming commits the sink
    effect and the checkpoint offset in two steps, so a crash between them
    replays the batch on restart. An intent sidecar next to the state table
    records ``(batch_id, base_snapshot)`` BEFORE the state commit; a
    replayed batch whose state table already advanced past its recorded
    base is skipped instead of double-counted. Crash-window audit: die
    after the sidecar write but before the commit → replay sees the state
    still at ``base`` and re-applies (no effect was made durable); die
    after the commit → replay sees the state past ``base`` and skips.
    """
    import json
    import os

    marker = os.path.join(state.root, "applied_batch.json")

    def upsert_batch(bdf: DataFrame, batch_id: int) -> None:
        base = state.current_snapshot_id()
        if os.path.exists(marker):
            with open(marker) as f:
                last = json.load(f)
            if batch_id < last["batch_id"] or (
                batch_id == last["batch_id"] and base > last["base"]
            ):
                return  # replayed batch whose effect is already committed
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "base": base}, f)
        os.replace(tmp, marker)
        partial = bdf.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )
        if base == 0:
            state.write(partial, mode="overwrite")
            return
        prev = state.read().alias("p")
        cur = partial.alias("c")
        # eqNullSafe: MERGE keys compare null-safely — with a bare `=`,
        # each micro-batch's NULL-user partial never matched the state
        # row and appended a NEW row per batch (state diverged from the
        # oracle's single NULL group).
        merged = prev.join(
            cur, F.col("p.user_id").eqNullSafe(F.col("c.user_id")), "full_outer"
        ).select(
            F.coalesce(F.col("p.user_id"), F.col("c.user_id")).alias("user_id"),
            (
                F.coalesce(F.col("p.n_events"), F.lit(0))
                + F.coalesce(F.col("c.n_events"), F.lit(0))
            ).alias("n_events"),
            dec(
                F.coalesce(F.col("p.sum_dec"), dec(F.lit(0)))
                + F.coalesce(F.col("c.sum_dec"), dec(F.lit(0)))
            ).alias("sum_dec"),
        )
        state.write(merged, mode="overwrite", expected_version=base)

    return upsert_batch


@query(
    "stream_restart_exactly_once",
    oracle=f"""
    SELECT
      user_id,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS total_value
    FROM {oracle_events()} events
    GROUP BY user_id
    """,
    tags=("streaming", "checkpoint", "recovery", "exactly-once"),
)
@scratch
def stream_restart_exactly_once(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Checkpoint recovery — exactly-once ACROSS A RESTART: run 1 streams
    the first half of the chunks into the upsert state table and
    terminates; the second half of the files then lands in the source
    directory; run 2 starts from the SAME checkpoint and must process ONLY
    the new files — committed offsets make replay impossible, so the
    final state equals the batch aggregate exactly (any reprocessing
    would double-count and hash-mismatch the oracle). This is the
    streaming guarantee that matters operationally: jobs die and restart,
    sinks must not see duplicates.

    tests/test_streaming_state.py additionally asserts run 2's input-row
    telemetry covers only the second half.
    """
    import os
    import shutil

    from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable

    staged = stage_event_chunks(spark, sf_dir)
    inp = os.path.join(root, "in")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(inp)
    chunks = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    state = SnapshotTable(spark, os.path.join(root, "state"))
    upsert = _make_user_upsert(state)
    # Run 1: only the first half of the replay exists yet.
    for f in chunks[:2]:
        shutil.copy(os.path.join(staged, f), os.path.join(inp, f))
    name = "stream_restart_exactly_once"
    run_stream_foreach_batch(read_event_stream(spark, inp), name, upsert, ckpt)
    # The job "dies"; the remaining files arrive while it is down.
    for f in chunks[2:]:
        shutil.copy(os.path.join(staged, f), os.path.join(inp, f))
    # Run 2: same checkpoint — committed offsets skip the first half.
    run_stream_foreach_batch(read_event_stream(spark, inp), name, upsert, ckpt)
    return state.read().select(
        "user_id",
        "n_events",
        F.col("sum_dec").cast("double").alias("total_value"),
    )


@query(
    "stream_foreachbatch_upsert",
    oracle=f"""
    SELECT
      user_id,
      COUNT(*) AS n_events,
      {oracle_dsum('value')} AS total_value
    FROM {oracle_events()} events
    GROUP BY user_id
    """,
    tags=("streaming", "foreachBatch", "merge"),
)
@scratch
def stream_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """foreachBatch incremental MERGE: each micro-batch's per-user partials
    are upserted (add counts / decimal sums) into a snapshot table — the
    streaming-materialized-view pattern (reference's Iceberg sink A8 made
    incremental). After 4 batches the state must equal the batch aggregate.

    State arithmetic stays decimal end-to-end; only the final read casts to
    double, so cross-batch addition order cannot perturb the result.
    """
    import os

    from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable

    input_dir = stage_event_chunks(spark, sf_dir)
    state = SnapshotTable(spark, os.path.join(root, "state"))
    run_stream_foreach_batch(
        read_event_stream(spark, input_dir),
        "stream_foreachbatch_upsert",
        _make_user_upsert(state),
        os.path.join(root, "ckpt"),
    )
    return state.read().select(
        "user_id",
        "n_events",
        F.col("sum_dec").cast("double").alias("total_value"),
    )


@query(
    "stream_custom_stateful",
    oracle=f"""
    SELECT
      user_id,
      COUNT(*) AS n_events,
      CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
        AS n_purchases
    FROM {oracle_events()} events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running counter (events seen, purchases seen) carried across
    micro-batches in explicit GroupState, emitted on stream end.

    This is the escape hatch when built-in windows/dedup can't express the
    state machine (sessionization with custom logic, fraud counters, CDC
    folding). State is a tiny tuple per key, partitioned by user_id in the
    state store — memory is O(active keys), not O(events).

    The batch twin (plain per-user counts) is exact, so even the custom
    state path is oracle-verified.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    input_dir = stage_event_chunks(spark, sf_dir)
    s = read_event_stream(spark, input_dir)

    def count_events(key, pdfs, state: GroupState):
        n, np_ = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            np_ += int((pdf["event_type"] == "purchase").sum())
        state.update((n, np_))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_purchases": [np_]}
        )

    out = (
        s.groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id bigint, n_events bigint, n_purchases bigint",
            stateStructType="n bigint, np bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_stream_to_memory(out, "stream_custom_stateful", "update", input_dir)
    # update mode emits one row per (user, batch); the final state per user
    # is the row with the max n_events.
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_purchases").alias("n_purchases"),
    )


@query(
    "stream_stateful_timeout_session",
    oracle=f"""
    WITH e AS (
      SELECT user_id, {oracle_epoch_s()} AS sec
      FROM {oracle_events()} events
    ), x AS (
      SELECT user_id, sec,
             CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                    IS NULL
                  OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                    > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), s AS (
      SELECT user_id, sec,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec
                              ROWS UNBOUNDED PRECEDING) AS sidx
      FROM x
    )
    SELECT user_id, CAST(sidx AS BIGINT) AS session_idx,
           strftime(make_timestamp(MIN(sec) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(MAX(sec) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sidx
    """,
    tags=("streaming", "stateful", "timeout", "session"),
)
def stream_stateful_timeout_session(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUTS: sessions close when
    the watermark passes last_event + 30 min — the state-machine shape the
    built-in session_window can't express once close-actions or custom
    numbering enter the picture, and the capability stream_custom_stateful
    (NoTimeout) leaves unexercised.

    Each key's state is one OPEN session (idx, start, last, count). New
    events extend it or split it inline; keys with no new events are
    closed by the timeout callback (hasTimedOut=True, empty data) when the
    watermark proves no future event can continue the session. A closed
    session is emitted exactly once, at close — so state is O(active
    users), and emission latency is bounded by gap + watermark delay, the
    production profile for "session ended" triggers (cart abandonment,
    idle logout). The flush sentinel's far-future watermark fires every
    remaining timeout before the finite replay ends; session numbering is
    persisted per key across close/reopen so the full session list equals
    the batch gap-sessionization twin row-for-row.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = 1800
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    # Timestamp-less events cannot be sessionized — drop them BEFORE the
    # stateful operator (a real pipeline dead-letters them): a NULL
    # event-time reaches the state function as NaT and kills the stream
    # inside astype("int64").
    s = (
        read_event_stream(spark, input_dir)
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
    )

    def fmt(sec: int) -> str:
        return pd.to_datetime(int(sec), unit="s", utc=True).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

    def sessionize(key, pdfs, state: GroupState):
        out = []

        def close(sidx, start, last, n):
            out.append((key[0], sidx, fmt(start), fmt(last), n))

        if state.hasTimedOut:
            sidx, start, last, n = state.get
            if start >= 0:
                close(sidx, start, last, n)
            # keep the numbering, mark no open session; no new timeout —
            # an idle key with nothing open needs no callback (a real
            # deployment would arm a TTL here to reap the numbering row)
            state.update((sidx, -1, -1, 0))
        else:
            secs: list[int] = []
            for pdf in pdfs:
                secs.extend(
                    int(v) // 1_000_000_000
                    for v in pdf["ts"].astype("int64")
                )
            secs.sort()
            sidx, start, last, n = (
                state.get if state.exists else (0, -1, -1, 0)
            )
            for t in secs:
                if start < 0:
                    sidx, start, last, n = sidx + 1, t, t, 1
                elif t - last > gap_s:
                    close(sidx, start, last, n)
                    sidx, start, last, n = sidx + 1, t, t, 1
                else:
                    last, n = t, n + 1
            state.update((sidx, start, last, n))
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max((last + gap_s) * 1000 + 1000, wm + 1000)
            )
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "session_idx",
                "session_start",
                "session_end",
                "n_events",
            ],
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id bigint, session_idx bigint, session_start string, "
            "session_end string, n_events bigint"
        ),
        stateStructType="sidx bigint, start bigint, last bigint, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    sink = run_stream_to_memory(
        out, "stream_stateful_timeout_session", "update", input_dir
    )
    return sink.filter(
        # null-safe sentinel drop:
        # NULL >= 0 is NULL, which silently discarded the NULL-user
        # session the oracle keeps as its own group.
        (F.col("user_id") >= 0) | F.col("user_id").isNull()
    )


@query(
    "stream_static_join",
    oracle=f"""
    SELECT
      c.c_mktsegment,
      e.event_type,
      COUNT(*) AS n_events,
      {oracle_dsum('e.value')} AS sum_value
    FROM {oracle_events()} e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type IN ('purchase', 'error')
    GROUP BY c.c_mktsegment, e.event_type
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the replayed event stream enriched against the
    static customer dimension per micro-batch, then aggregated.

    The static side is re-planned each micro-batch (so dim updates between
    batches are picked up) and joins unhinted — the micro-batch planner
    broadcasts it while it fits (the standard enrichment shape: the
    stream never shuffles for the join, only for its own aggregation)
    and falls back to a shuffle join once the dimension outgrows the
    threshold, instead of OOMing on a forced broadcast. Batch twin = the same join in plain SQL.
    """
    input_dir = stage_event_chunks(spark, sf_dir)
    s = read_event_stream(spark, input_dir).filter(
        F.col("event_type").isin("purchase", "error")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(c, s.user_id == c.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).alias("sum_dec"),
    )
    sink = run_stream_to_memory(agg, "stream_static_join", "complete", input_dir)
    return sink.select(
        "c_mktsegment",
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "stream_stream_join",
    oracle=f"""
    WITH p AS (
      SELECT user_id, date_trunc('second', ts) AS ts_p, value
      FROM {oracle_events()} events WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_e
      FROM {oracle_events()} events WHERE event_type = 'error'
    )
    SELECT
      p.user_id,
      COUNT(*) AS n_pairs,
      {oracle_dsum('p.value')} AS sum_purchase_value
    FROM p JOIN e ON p.user_id = e.user_id
      AND e.ts_e >= p.ts_p AND e.ts_e <= p.ts_p + INTERVAL 6 HOUR
    GROUP BY p.user_id
    """,
    tags=("streaming", "join", "stream-stream"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: purchases
    joined to errors by the same user arriving within the following 6
    hours — both sides are live streams with watermarks. (The synthetic
    events table averages ~1 event/user/day, so a minutes-wide interval
    matches zero pairs — 6 hours keeps the test non-vacuous while state
    stays bounded by interval + watermark.)

    This is the hardest streaming shape: BOTH sides buffer state, and the
    join's time-range condition plus the two watermarks bound how long each
    row is retained (purchases evict once the error watermark passes
    ts_p + 6 h). The event-time-ordered replay lets both sides run
    10-minute watermarks — ~6 h of buffered state, the 100 TB shape: an
    inner join emits each matched pair eagerly, and eviction can never
    outrun a still-matchable row because a purchase old enough to evict
    (watermark > ts_p + 6 h) is too old for any future error to satisfy
    ts_e ≤ ts_p + 6 h. The batch twin is the identical interval join in
    SQL. Joined timestamps are pre-truncated to seconds so the µs-vs-ns
    engines agree on boundary rows.
    """
    input_dir = stage_event_chunks(spark, sf_dir)
    src = read_event_stream(spark, input_dir)
    p = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.date_trunc("second", "ts").alias("ts_p"),
            "value",
        )
        .withWatermark("ts_p", "10 minutes")
    )
    e = (
        src.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.date_trunc("second", "ts").alias("ts_e"),
        )
        .withWatermark("ts_e", "10 minutes")
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("ts_e") >= F.col("ts_p"))
        & (F.col("ts_e") <= F.col("ts_p") + F.expr("INTERVAL 6 HOURS")),
        "inner",
    )
    # Stream-stream joins emit in APPEND mode only (each matched pair is
    # final once both watermarks pass it) — so the streaming stage is the
    # join itself; the per-user rollup is a batch query over the sink.
    sink = run_stream_to_memory(
        joined.select("p_user", "value"), "stream_stream_join", "append", input_dir
    )
    return (
        sink.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum("value", "sum_purchase_value"),
        )
    )


@query(
    "stream_stream_left_join",
    oracle=f"""
    WITH p AS (
      SELECT user_id, date_trunc('second', ts) AS ts_p, value
      FROM {oracle_events()} events WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id, date_trunc('second', ts) AS ts_e
      FROM {oracle_events()} events WHERE event_type = 'error'
    ), j AS (
      SELECT p.user_id, p.value, e.user_id AS matched
      FROM p LEFT JOIN e ON p.user_id = e.user_id
        AND e.ts_e >= p.ts_p AND e.ts_e <= p.ts_p + INTERVAL 6 HOUR
    )
    SELECT
      user_id,
      COUNT(*) AS n_rows,
      CAST(COUNT(matched) AS BIGINT) AS n_matched,
      CAST(COUNT(*) FILTER (WHERE matched IS NULL) AS BIGINT) AS n_unmatched,
      {oracle_dsum('value')} AS sum_purchase_value
    FROM j GROUP BY user_id
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits — with
    its matching errors if any arrive within the next 6 hours, or as a
    single null-extended row once that window provably closes.

    Harder than the inner join: a null row may only be emitted when the
    ERROR-side watermark has passed ts_p + 6 h (no future match can
    exist), so unmatched purchases sit in state exactly until eviction
    proves them unmatched — emission and eviction are the same event,
    which is why Spark requires the time-bound condition on outer joins.
    The flush sentinel must pass through BOTH side filters here (unlike
    the inner join, which emits eagerly): it alone drives the final
    watermark past every pending purchase's window so all null rows flush
    before the availableNow trigger terminates. The sentinel rows
    (user_id −1) are dropped in the batch rollup. Batch twin: the same
    LEFT JOIN in SQL with per-user matched/unmatched accounting.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    src = read_event_stream(spark, input_dir)
    p = (
        src.filter(F.col("event_type").isin("purchase", SENTINEL_EVENT_TYPE))
        .select(
            F.col("user_id").alias("p_user"),
            F.date_trunc("second", "ts").alias("ts_p"),
            "value",
        )
        .withWatermark("ts_p", "10 minutes")
    )
    e = (
        src.filter(F.col("event_type").isin("error", SENTINEL_EVENT_TYPE))
        .select(
            F.col("user_id").alias("e_user"),
            F.date_trunc("second", "ts").alias("ts_e"),
        )
        .withWatermark("ts_e", "10 minutes")
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("ts_e") >= F.col("ts_p"))
        & (F.col("ts_e") <= F.col("ts_p") + F.expr("INTERVAL 6 HOURS")),
        "left_outer",
    )
    sink = run_stream_to_memory(
        joined.select("p_user", "value", "e_user"),
        "stream_stream_left_join", "append", input_dir,
    )
    return (
        sink.filter(
            # null-safe: keep NULL-user purchases (their own group in
            # the oracle); only the sentinel's -1 row drops.
            (F.col("p_user") >= 0) | F.col("p_user").isNull()
        )
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("e_user").alias("n_matched"),
            F.count(F.when(F.col("e_user").isNull(), 1)).alias("n_unmatched"),
            dsum("value", "sum_purchase_value"),
        )
    )


@query(
    "stream_join_then_window",
    oracle=f"""
    WITH p AS (
      SELECT user_id, date_trunc('second', ts) AS ts_p, value
      FROM {oracle_events()} events WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id, date_trunc('second', ts) AS ts_e
      FROM {oracle_events()} events WHERE event_type = 'error'
    ), j AS (
      SELECT p.ts_p, p.value
      FROM p JOIN e ON p.user_id = e.user_id
        AND e.ts_e >= p.ts_p AND e.ts_e <= p.ts_p + INTERVAL 6 HOUR
    )
    SELECT
      strftime(time_bucket(INTERVAL '1 hour', ts_p), '%Y-%m-%d %H:%M:%S')
        AS window_start,
      COUNT(*) AS n_pairs,
      {oracle_dsum('value')} AS sum_purchase_value
    FROM j GROUP BY 1
    """,
    tags=("streaming", "join", "stream-stream", "chained"),
)
def stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in ONE streaming query: a
    stream-stream time-interval join feeding a tumbling-window aggregation
    — the multiple-stateful-operator pipeline Spark supports since 3.4
    (before that, each stateful op needed its own query + intermediate
    sink).

    The scale story is watermark PROPAGATION: the join's output watermark
    is delayed by the interval bound (a purchase can produce pairs until
    the error watermark passes ts_p + 6 h), and Spark derives the
    downstream aggregation's eviction watermark from that — so each
    operator's state stays bounded (join: ~6 h of both streams; agg: open
    1-hour windows only) with no manual re-watermarking between them. The
    flush sentinel rides both sides; its self-joined pair lands in a
    far-future window the trigger never finalizes, so append output drops
    it without an explicit filter. Batch twin: the identical interval join
    rolled up by hour bucket.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    src = read_event_stream(spark, input_dir)
    p = (
        src.filter(F.col("event_type").isin("purchase", SENTINEL_EVENT_TYPE))
        .select(
            F.col("user_id").alias("p_user"),
            F.date_trunc("second", "ts").alias("ts_p"),
            "value",
        )
        .withWatermark("ts_p", "10 minutes")
    )
    e = (
        src.filter(F.col("event_type").isin("error", SENTINEL_EVENT_TYPE))
        .select(
            F.col("user_id").alias("e_user"),
            F.date_trunc("second", "ts").alias("ts_e"),
        )
        .withWatermark("ts_e", "10 minutes")
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("ts_e") >= F.col("ts_p"))
        & (F.col("ts_e") <= F.col("ts_p") + F.expr("INTERVAL 6 HOURS")),
        "inner",
    )
    agg = joined.groupBy(F.window("ts_p", "1 hour")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(dec("value")).alias("sum_dec"),
    )
    sink = run_stream_to_memory(agg, "stream_join_then_window", "append", input_dir)
    return sink.select(
        F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
        "n_pairs",
        F.col("sum_dec").cast("double").alias("sum_purchase_value"),
    )


@query(
    "stream_file_sink_manifest",
    oracle=f"""
    SELECT
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM({oracle_cents('value')}) AS BIGINT) AS total_cents
    FROM {oracle_events()} events
    GROUP BY event_type
    """,
    tags=("streaming", "sink", "file", "exactly-once"),
)
@scratch
def stream_file_sink_manifest(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Streaming FILE sink (parquet) with its exactly-once manifest — the
    sink family's third member after memory and foreachBatch: the file
    sink commits each batch by listing its files in ``_spark_metadata``,
    and manifest-aware reads see ONLY committed files.

    The exactly-once claim is attacked in-query: after the stream drains,
    an ORPHAN parquet file (simulating a task attempt that wrote data but
    whose batch never committed) is planted in the sink directory. The
    read-back must ignore it — if the manifest is bypassed the rollup
    inflates and the hash mismatches; an explicit assert additionally
    pins that the orphan file is readable on its own (the test is not
    vacuous).

    100 TB: the manifest makes file-sink output safely readable while the
    writer runs — the precursor pattern to table-format commits (the
    snapshot log generalizes exactly this).
    """
    import glob
    import os
    import shutil

    input_dir = stage_event_chunks(spark, sf_dir)
    stream = read_event_stream(spark, input_dir).select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    sink = os.path.join(root, "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # plant an orphan data file the manifest never committed
    committed = glob.glob(os.path.join(sink, "part-*.parquet"))
    assert committed, "file sink wrote no data files"
    orphan_src = os.path.join(root, "orphan")
    spark.createDataFrame(
        [(10**12, "orphan-type", 123456)],
        "event_id long, event_type string, cents long",
    ).coalesce(1).write.parquet(orphan_src)
    orphan_part = glob.glob(os.path.join(orphan_src, "part-*.parquet"))[0]
    planted = os.path.join(sink, "part-99999-orphan.snappy.parquet")
    shutil.copy(orphan_part, planted)
    assert spark.read.parquet(planted).count() == 1  # orphan is real
    back = spark.read.parquet(sink)  # manifest-aware: orphan invisible
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@query(
    "stream_windowed_dau",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT
        time_bucket(INTERVAL '10 minutes', ts) AS window_start,
        user_id
      FROM {oracle_events()} events
      WHERE event_type IN ('purchase', 'error')
    )
    SELECT
      strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      CAST(COUNT(*) AS BIGINT) AS n_users
    FROM du GROUP BY window_start
    """,
    tags=("streaming", "distinct", "chained-stateful"),
)
def stream_windowed_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTINCT-user counts per window — the DAU metric as a
    CHAIN of two stateful operators in one query: watermark-bounded
    dropDuplicates on (user, window) feeding a windowed count. Plain
    count(distinct) is unsupported in streaming precisely because it
    needs this dedup state; the chain is the idiomatic re-expression
    (Spark 3.4+ multi-stateful watermark propagation — the aggregation
    sibling of `stream_join_then_window`'s join→window chain).

    Dedup state is bounded by the watermark (one row per (user, window)
    inside the 10-minute lateness horizon) and the window state by open
    windows; both evict as the watermark passes. Matches the batch
    distinct exactly in append mode.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    s = read_event_stream(spark, input_dir).filter(
        F.col("event_type").isin("purchase", "error", SENTINEL_EVENT_TYPE)
    )
    deduped = (
        s.withWatermark("ts", "10 minutes")
        .select("ts", "user_id", F.window("ts", "10 minutes").alias("win"))
        .dropDuplicates(["user_id", "win"])
    )
    agg = deduped.groupBy("win").agg(F.count(F.lit(1)).alias("n_users"))
    sink = run_stream_to_memory(agg, "stream_windowed_dau", "append", input_dir)
    return sink.select(
        F.date_format(F.col("win.start"), _TS_FMT).alias("window_start"),
        F.col("n_users").cast("long").alias("n_users"),
    )


@query(
    "stream_topk_trending",
    oracle=f"""
    WITH w AS (
      SELECT
        strftime(time_bucket(INTERVAL '10 minutes', ts),
                 '%Y-%m-%d %H:%M:%S') AS window_start,
        event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM {oracle_events()} events
      GROUP BY 1, 2
    ), r AS (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rnk
      FROM w
    )
    SELECT window_start, CAST(rnk AS BIGINT) AS rnk, event_type, n_events
    FROM r WHERE rnk <= 3
    """,
    tags=("streaming", "window", "topk", "trending"),
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items readout: streaming tumbling-window counts per event
    type (append mode, watermark-evicted state — the same bounded-state
    machinery as ``stream_tumbling_window``), then the top-3 types per
    FINALIZED window with a deterministic (count DESC, type) tiebreak —
    the leaderboard a live dashboard polls.

    The ranking runs as a tiny batch window over the memory sink's
    finalized-window table (|windows| × |types| rows — never the event
    stream): in production the same rank runs per trigger in foreachBatch
    over exactly the rows that batch finalized. For high-cardinality keys
    where exact per-window counts blow state, the documented degradation
    is approximate top-k (the mergeable Count-Min of
    ``agg_countmin_sketch`` + a per-window heap); here types are
    low-cardinality and the exact rank is the batch-twin-verifiable
    semantics.

    The flush sentinel closes the last real windows; its own far-future
    window is never finalized before the trigger ends, so it cannot
    reach the leaderboard.
    """
    input_dir = stage_event_chunks(spark, sf_dir, flush_sentinel=True)
    s = read_event_stream(spark, input_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = run_stream_to_memory(agg, "stream_topk_trending", "append", input_dir)
    from pyspark.sql import Window

    finalized = sink.select(
        F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )
    # asc_nulls_last: DuckDB sorts NULLs LAST by default, Spark FIRST —
    # on a count tie the NULL-type group's rank flipped by engine.
    rw = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc_nulls_last()
    )
    return (
        finalized.select(
            "window_start",
            F.row_number().over(rw).cast("long").alias("rnk"),
            "event_type",
            "n_events",
        )
        .filter(F.col("rnk") <= 3)
        .select("window_start", "rnk", "event_type", "n_events")
    )
