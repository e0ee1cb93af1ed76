"""Library code must leave the caller's session as it found it: the conf
(the same keys set, to the same values, and the same keys unset), the
current database, the namespaces and the temp views."""

from __future__ import annotations

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
    """A lakehouse query that fails after creating its namespace and temp
    views still drops them: the catalog is left as the caller had it."""

    def namespaces():
        return sorted(r[0] for r in plain.sql("SHOW NAMESPACES").collect())

    def temp_views():
        return sorted(t.name for t in plain.catalog.listTables() if t.isTemporary)

    def fail(*_args, **_kwargs):
        raise RuntimeError("read-back failed")

    before = (namespaces(), temp_views())
    monkeypatch.setattr(LakehouseCatalog, "table", fail)
    with pytest.raises(RuntimeError, match="read-back failed"):
        load_all()["lakehouse_roundtrip"].fn(plain, sf_dir)
    assert (namespaces(), temp_views()) == before
