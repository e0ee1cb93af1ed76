"""Library code must leave the caller's session as it found it: the conf
(the same keys set, to the same values, and the same keys unset), the
current database, the namespaces, the temp views and the temporary
functions."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from biglake_iceberg_python_spark.lakehouse.catalog import LakehouseCatalog
from biglake_iceberg_python_spark.plans.registry import load_all
from biglake_iceberg_python_spark.session import session_conf
from biglake_iceberg_python_spark.sources.tables import TABLES, load_table

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def plain(spark):
    """A session with its own conf on the shared SparkContext; the
    shuffle-partition count is left unset, as in a session nobody tuned."""
    s = spark.newSession()
    s.conf.unset("spark.sql.shuffle.partitions")
    return s


def test_session_conf_restores_and_unsets(plain):
    plain.conf.set("spark.sql.shuffle.partitions", "5")
    before = plain.conf.getAll
    with pytest.raises(RuntimeError):
        with session_conf(
            plain,
            {
                "spark.sql.shuffle.partitions": "3",
                "spark.sql.sources.partitionOverwriteMode": "dynamic",
            },
        ):
            assert plain.conf.get("spark.sql.shuffle.partitions") == "3"
            raise RuntimeError("block failed")
    assert plain.conf.getAll == before
    assert plain.conf.get("spark.sql.sources.partitionOverwriteMode", None) is None


def test_load_table_leaves_nanos_conf_alone(plain, sf_dir):
    """The testdata stores events.ts as TIMESTAMP(MICROS), so loading every
    table must not set the legacy nanos conf."""
    before = plain.conf.getAll
    for t in TABLES:
        load_table(plain, sf_dir, t).limit(1).collect()
    assert plain.conf.get(_NANOS_CONF, None) is None
    assert plain.conf.getAll == before


def test_load_table_reads_nanos_events(plain, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) events file still loads to the same NTZ values
    (the legacy conf is set for it, and only for it)."""
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    nanos = tbl.set_column(i, "ts", tbl["ts"].cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet", version="2.6")
    assert "nanoseconds" in str(
        pq.read_metadata(tmp_path / "events.parquet").schema.column(i).logical_type
    )

    got = load_table(plain, str(tmp_path), "events")
    want = load_table(plain, sf_dir, "events")
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(got.select("event_id", "ts").collect()) == sorted(
        want.select("event_id", "ts").collect()
    )
    assert plain.conf.get(_NANOS_CONF) == "true"


@pytest.mark.parametrize(
    "name",
    [
        "stream_dedup_rocksdb",
        "stream_tumbling_window",
        "join_runtime_bloom_filter",
        "lakehouse_dynamic_partition_overwrite",
    ],
)
def test_conf_scoped_queries_leave_session_conf(plain, sf_dir, name):
    before = plain.conf.getAll
    load_all()[name].fn(plain, sf_dir).collect()
    assert plain.conf.getAll == before


@pytest.mark.parametrize(
    "name",
    [
        "agg_grouping_sets",
        "subquery_scalar",
        "subquery_correlated",
        "subquery_not_in_null",
        "sql_recursive_reachability",
        "sql_parameterized",
        "sql_lateral_topn",
        "sql_pipe_syntax",
        "sql_group_order_by_all",
        "sql_identifier_clause",
        "sql_named_window",
        "sql_session_variable",
        "sql_execute_immediate",
        "sql_values_inline",
        "sql_temp_function",
        "udf_python_udtf",
        "udf_udtf_polymorphic_analyze",
        "window_nth_value",
        "stream_tumbling_window",
        "stream_sliding_window",
        "stream_session_window",
        "stream_tumbling_update",
        "stream_dedup_rocksdb",
        "stream_dedup",
        "stream_dedup_within_watermark",
        "stream_late_data_drop",
        "stream_custom_stateful",
        "stream_stateful_timeout_session",
        "stream_static_join",
        "stream_stream_join",
        "stream_stream_left_join",
        "stream_join_then_window",
        "stream_windowed_dau",
        "stream_topk_trending",
        "source_python_datasource_stream",
        "source_csv_roundtrip",
        "source_json_roundtrip",
        "source_orc_roundtrip",
        "source_partitioned_write_prune",
    ],
)
def test_sql_queries_leave_no_temp_view(plain, sf_dir, name):
    """SQL text binds its input frames by keyword, temporary functions are
    dropped once the frame is analyzed, and a stream's memory-sink view
    and checkpoint go when its run ends: nothing outlives the query to
    shadow a view or function of the caller's, or to fill the temp dir."""

    def left_behind():
        return (
            {t.name for t in plain.catalog.listTables() if t.isTemporary},
            {f.name for f in plain.catalog.listFunctions() if f.isTemporary},
            {
                path
                for prefix in (
                    "stream_ckpt_", "egs_ckpt_",
                    "src_csv_", "src_json_", "src_orc_", "src_part_",
                )
                for path in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*"))
            },
        )

    before = left_behind()
    load_all()[name].fn(plain, sf_dir).collect()
    after = left_behind()
    assert [a - b for a, b in zip(after, before)] == [set(), set(), set()]


def test_bucketed_join_keeps_current_database(plain, sf_dir):
    """The bucketed join qualifies every table name, so the caller's
    current database survives it."""
    db = f"caller_db_{uuid.uuid4().hex[:8]}"
    plain.sql(f"CREATE NAMESPACE {db}")
    try:
        plain.catalog.setCurrentDatabase(db)
        load_all()["lakehouse_bucketed_join"].fn(plain, sf_dir).collect()
        assert plain.catalog.currentDatabase() == db
    finally:
        plain.catalog.setCurrentDatabase("default")
        plain.sql(f"DROP NAMESPACE IF EXISTS {db} CASCADE")


def test_failed_lakehouse_query_drops_its_namespace(plain, sf_dir, monkeypatch):
    """A staging query drops its namespace and temp views and removes its
    scratch directory, whether it fails after creating them or succeeds;
    a successful result still collects after that cleanup."""
    name = "lakehouse_roundtrip"

    def state():
        return (
            sorted(r[0] for r in plain.sql("SHOW NAMESPACES").collect()),
            sorted(t.name for t in plain.catalog.listTables() if t.isTemporary),
            set(glob.glob(os.path.join(tempfile.gettempdir(), f"{name}_*"))),
        )

    def fail(*_args, **_kwargs):
        raise RuntimeError("read-back failed")

    before = state()
    with monkeypatch.context() as m:
        m.setattr(LakehouseCatalog, "table", fail)
        with pytest.raises(RuntimeError, match="read-back failed"):
            load_all()[name].fn(plain, sf_dir)
    assert state() == before

    df = load_all()[name].fn(plain, sf_dir)
    assert state() == before
    assert len(df.collect()) == load_table(plain, sf_dir, "region").count()
