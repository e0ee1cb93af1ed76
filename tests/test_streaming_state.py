"""State-store behavior assertions for the streaming queries: APPEND-mode
windows must EVICT finalized state (the 100 TB-safety property the batch-twin
oracle can't see), and the out-of-order replay must actually DROP late rows.

All assertions read the terminated StreamingQuery's progress telemetry
(lastProgress / recentProgress), recorded per query name in
streaming.queries.LAST_STREAMING_QUERIES.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from biglake_iceberg_python_spark.plans.registry import load_all
from biglake_iceberg_python_spark.streaming import queries as sq
from biglake_iceberg_python_spark.streaming.pipeline import (
    _state_partitions,
    read_event_stream,
    run_stream_to_memory,
    stage_event_chunks,
)

REGISTRY = load_all()


def _final_state_rows(q) -> int:
    return sum(op["numRowsTotal"] for op in q.lastProgress["stateOperators"])


def _total_removed(q) -> int:
    return sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )


def _total_dropped_by_watermark(q) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )


def _run(name, spark, sf_dir):
    REGISTRY[name].fn(spark, sf_dir).collect()
    return sq.LAST_STREAMING_QUERIES[name]


def test_tumbling_window_evicts_state(spark, sf_dir):
    q = _run("stream_tumbling_window", spark, sf_dir)
    # Every real window was finalized + evicted; only the sentinel's
    # never-finalized window may remain in the store.
    assert _final_state_rows(q) <= 1
    assert _total_removed(q) > 0


def test_tumbling_window_replay_shape(spark, sf_dir):
    """The sentinel replay is 4 data batches + 1 no-data flush: the
    sentinel rides in the last chunk, every state operator runs on the
    size-derived partition count (1 for the sf0.001 replay), and the
    session's shuffle-partition conf is restored afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    progress = _run("stream_tumbling_window", spark, sf_dir).recentProgress
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert len(progress) == 5
    assert progress[-1]["numInputRows"] == 0
    ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"]).column("ts")
    n = len(ts) - ts.null_count
    assert progress[-2]["numInputRows"] == n - n * 3 // 4 + 1
    parts = {
        op["numShufflePartitions"] for p in progress for op in p["stateOperators"]
    }
    assert parts == {1}


def test_state_partitions_grow_with_input_bytes(spark, sf_dir):
    """ceil(bytes / advisoryPartitionSizeInBytes), clamped to
    [1, defaultParallelism]."""
    input_dir = stage_event_chunks(spark, sf_dir)
    assert _state_partitions(spark, input_dir) == 1
    n_bytes = sum(e.stat().st_size for e in os.scandir(input_dir))
    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(n_bytes // 2 + 1))
        assert _state_partitions(spark, input_dir) == min(2, cores)
        spark.conf.set(key, "1")
        assert _state_partitions(spark, input_dir) == cores
    finally:
        spark.conf.set(key, prev)


def test_failed_stream_start_restores_shuffle_partitions(spark, sf_dir):
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def left_behind():
        return (
            {t.name for t in spark.catalog.listTables() if t.isTemporary},
            set(glob.glob(os.path.join(tempfile.gettempdir(), "stream_ckpt_*"))),
        )

    views, ckpts = left_behind()
    input_dir = stage_event_chunks(spark, sf_dir)
    # COMPLETE output needs an aggregation, so start() raises.
    with pytest.raises(AnalysisException):
        run_stream_to_memory(
            read_event_stream(spark, input_dir), "no_agg", "complete", input_dir
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    views_after, ckpts_after = left_behind()
    assert views_after - views == set()
    assert ckpts_after - ckpts == set()


def test_stage_is_rebuilt_when_events_file_is_rewritten(spark, sf_dir, tmp_path):
    events = pq.read_table(f"{sf_dir}/events.parquet")
    events = events.filter(pc.is_valid(events.column("ts")))
    pq.write_table(events, tmp_path / "events.parquet")
    first = stage_event_chunks(spark, str(tmp_path))
    assert stage_event_chunks(spark, str(tmp_path)) == first
    pq.write_table(events.slice(0, 10), tmp_path / "events.parquet")
    second = stage_event_chunks(spark, str(tmp_path))
    assert second != first
    assert pq.read_table(second).num_rows == 10


def test_sliding_window_evicts_state(spark, sf_dir):
    q = _run("stream_sliding_window", spark, sf_dir)
    # The sentinel lands in 2 overlapping windows, both unfinalized.
    assert _final_state_rows(q) <= 2
    assert _total_removed(q) > 0


def test_session_window_evicts_state(spark, sf_dir):
    q = _run("stream_session_window", spark, sf_dir)
    # Only the sentinel's never-closed session may remain.
    assert _final_state_rows(q) <= 1
    assert _total_removed(q) > 0


def test_dedup_within_watermark_bounds_state(spark, sf_dir):
    q = _run("stream_dedup_within_watermark", spark, sf_dir)
    # The final watermark (sentinel − 30 min) is past every real event's
    # ts + delay, so every real key was evicted — unlike plain stream_dedup,
    # whose state holds the full key set forever.
    assert _final_state_rows(q) <= 1
    assert _total_removed(q) > 0


def test_late_data_is_dropped(spark, sf_dir):
    n_surviving = (
        REGISTRY["stream_late_data_drop"].fn(spark, sf_dir).collect()[0][
            "n_surviving_events"
        ]
    )
    q = sq.LAST_STREAMING_QUERIES["stream_late_data_drop"]
    dropped = _total_dropped_by_watermark(q)
    assert dropped > 0
    # The two late chunks were dropped wholesale, so survivors must be
    # strictly fewer than the full filtered input. No exact raw-row
    # conservation against the metric: numRowsDroppedByWatermark counts
    # post-partial-aggregation groups (the map-side combine runs before the
    # state store's late filter), not raw input rows — observed 212 groups
    # dropped for 219 raw late rows at sf0.001.
    from biglake_iceberg_python_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    n_full = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .count()
    )
    assert 0 < n_surviving < n_full
    assert n_surviving + dropped <= n_full
    # And the store itself ends bounded: the sentinel's window plus at most
    # the last real chunk's unfinalized tail.
    assert _final_state_rows(q) <= 2


def test_left_outer_join_flushes_unmatched_and_evicts(spark, sf_dir):
    """The LEFT OUTER stream-stream join must (a) actually emit
    null-extended rows for unmatched purchases — proof the sentinel drove
    the error-side watermark past every pending purchase's window — and
    (b) evict joined state rather than buffering both streams forever."""
    out = REGISTRY["stream_stream_left_join"].fn(spark, sf_dir).collect()
    q = sq.LAST_STREAMING_QUERIES["stream_stream_left_join"]
    assert sum(r["n_unmatched"] for r in out) > 0, "no null rows flushed"
    assert sum(r["n_matched"] for r in out) > 0
    assert _total_removed(q) > 0
    # Residual state is at most the sentinel rows on each side.
    assert _final_state_rows(q) <= 4


def test_python_stream_source_progresses_in_offset_batches(spark, sf_dir):
    """The custom Python streaming source must deliver its 20k rows across
    MULTIPLE offset-bounded micro-batches (rate-limited latestOffset), not
    one catch-all batch, and the drained rollup must cover every row."""
    out = REGISTRY["source_python_datasource_stream"].fn(spark, sf_dir).collect()
    q = sq.LAST_STREAMING_QUERIES["source_python_datasource_stream"]
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, n_batches
    assert sum(r["n_events"] for r in out) == 20_000


def test_update_mode_reemits_and_reconstructs(spark, sf_dir):
    """UPDATE output must re-emit a window each time a batch changes it —
    the memory sink holds strictly more rows than the reconstructed final
    result (windows spanning chunk boundaries emit ≥2 versions) — and the
    replay must actually progress in multiple micro-batches."""
    out = REGISTRY["stream_tumbling_update"].fn(spark, sf_dir).collect()
    q = sq.LAST_STREAMING_QUERIES["stream_tumbling_update"]
    sink_rows = sum(p["sink"]["numOutputRows"] for p in q.recentProgress)
    assert sink_rows > len(out), (sink_rows, len(out))
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 4


def test_dedup_rocksdb_runs_on_rocksdb_and_bounds_state(spark, sf_dir):
    """The RocksDB variant must actually run on the RocksDB provider
    (rocksdb* custom metrics present in state telemetry) with the same
    bounded-state guarantee as the default-provider twin — and the
    session-level provider conf must be restored afterwards."""
    q = _run("stream_dedup_rocksdb", spark, sf_dir)
    metrics = {
        k
        for op in q.lastProgress["stateOperators"]
        for k in op.get("customMetrics", {})
    }
    assert any(k.startswith("rocksdb") for k in metrics), metrics
    assert _final_state_rows(q) <= 1
    assert _total_removed(q) > 0
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        in (None, "")
        or "RocksDB"
        not in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    )


def test_restart_processes_only_new_files(spark, sf_dir):
    """Exactly-once across restart: run 2 (same checkpoint) must process
    strictly fewer rows than the full replay — its committed offsets skip
    everything run 1 processed — while the final state equals the batch
    aggregate (checked by the oracle; here we pin the telemetry side)."""
    out = REGISTRY["stream_restart_exactly_once"].fn(spark, sf_dir).collect()
    q2 = sq.LAST_STREAMING_QUERIES["stream_restart_exactly_once"]
    run2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    total = sum(r["n_events"] for r in out)
    assert 0 < run2_rows < total, (run2_rows, total)


def test_foreachbatch_upsert_is_idempotent_per_batch(spark, tmp_path):
    """Round-4 ADVICE regression: a replayed micro-batch (crash AFTER the
    state commit but before the offset commit) must be skipped, not
    double-counted; a replay after a crash BEFORE the commit must still
    apply."""
    import json
    import os

    from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable

    state = SnapshotTable(spark, str(tmp_path / "upsert_state"))
    upsert = sq._make_user_upsert(state)
    b0 = spark.range(3).selectExpr("id AS user_id", "CAST(2.0 AS DOUBLE) AS value")
    b1 = spark.range(3).selectExpr("id AS user_id", "CAST(5.0 AS DOUBLE) AS value")
    upsert(b0, 0)
    upsert(b1, 1)
    done = {r.user_id: r.n_events for r in state.read().collect()}
    assert done == {0: 2, 1: 2, 2: 2}

    # Replay of an already-committed batch: no effect.
    upsert(b1, 1)
    assert {r.user_id: r.n_events for r in state.read().collect()} == done

    # Crash BEFORE the commit: the marker records the intent but the state
    # never advanced — the replay must apply.
    marker = os.path.join(state.root, "applied_batch.json")
    with open(marker, "w") as f:
        json.dump({"batch_id": 2, "base": state.current_snapshot_id()}, f)
    upsert(b1, 2)
    assert {r.user_id: r.n_events for r in state.read().collect()} == {
        0: 3, 1: 3, 2: 3,
    }
