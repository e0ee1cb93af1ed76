"""The benchmark's workloads: what one pass does and how its results are
checked.

Every workload is a sequence of *ops*; the harness (``run.py``) isolates
and times each op and sums the op times into the pass time. The workload
seed picks the op order of the registry workloads and the mutation
predicates of ``lakehouse_cycle``; the engine only ever sees the generated
tables.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq

ITERATIVE_OPS = (
    "graph_kcore",
    "stream_tumbling_window",
)
STREAM_OPS = tuple(op for op in ITERATIVE_OPS if op.startswith("stream_"))
# Per-trigger durationMs phases summed per stream op.
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets")

# lakehouse_cycle ops, in lifecycle order. ``write`` runs once per appended
# chunk; the per-layer figures sum over the four.
SNAPSHOT_CALLS = (
    "write",
    "read",
    "delete_where",
    "update_where",
    "merge",
    "metadata_log_entries",
    "expire_snapshots",
)
CATALOG_CALLS = ("ddl", "ingest_parquet", "read_back")
N_APPENDS = 4

LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
    " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE,"
    " l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING,"
    " l_shipdate TIMESTAMP_NTZ"
)
LINEITEM_COLUMNS = [c.split()[0] for c in LINEITEM_DDL.split(",")]


@dataclass
class Op:
    """One timed step of a pass; ``fn`` records what the checks need."""

    name: str
    layer: str  # span name: "<registry op>", "catalog.ddl", "snapshots.merge"
    fn: object
    streaming: bool = False
    after: object = None  # untimed measurement run right after the op
    isolate: bool = True  # clear the cache and run a JVM GC before the op


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


class _Collected:
    """Rows a timed pass already collected, shaped like the DataFrame
    ``plans.check.compare`` expects (``columns`` + ``collect()``), so the
    check reads the exact result the pass produced without re-running it."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def _corrupt_rows(rows: list[tuple]) -> list[tuple]:
    """Change one value of one row (the mutation check's wrong result)."""
    if not rows:
        return [("corrupt",)]
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            first[i] = v + 1
            break
        if isinstance(v, str):
            first[i] = v + "~"
            break
    else:
        first.append("corrupt")
    return [tuple(first)] + list(rows[1:])


class RegistryWorkload:
    """Registered queries (``QuerySpec.fn`` then ``collect()``), checked
    against their DuckDB oracles."""

    def __init__(self, ctx, op_names: tuple[str, ...], seed: int):
        from biglake_iceberg_python_spark.plans.registry import load_all

        self.ctx = ctx
        self.registry = load_all()
        self.order = list(op_names)
        random.Random(seed).shuffle(self.order)
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def ops(self) -> list[Op]:
        return [
            Op(name, name, self._runner(name), name in STREAM_OPS)
            for name in self.order
        ]

    def _runner(self, name: str):
        spec = self.registry[name]
        ctx = self.ctx

        def run():
            with ctx.tracer.span("build"):
                df = spec.fn(ctx.spark, ctx.data_dir)
            with ctx.tracer.span("exec"):
                rows = [tuple(r) for r in df.collect()]
            self.results[name] = (list(df.columns), rows)

        return run

    def end_pass(self) -> list[Check]:
        return []

    def figures(self) -> dict[str, float]:
        return {}

    def check(self, corrupt: bool) -> list[Check]:
        from biglake_iceberg_python_spark.plans.check import compare, duckdb_connect
        from biglake_iceberg_python_spark.plans.registry import resolve_oracle

        con = duckdb_connect(self.ctx.data_dir)
        out = []
        for i, name in enumerate(sorted(self.order)):
            if name not in self.results:
                out.append(Check(name, False, "no result recorded"))
                continue
            cols, rows = self.results[name]
            if corrupt and i == 0:
                rows = _corrupt_rows(rows)
            sql = resolve_oracle(self.registry[name], self.ctx.data_dir)
            if sql is None:
                out.append(Check(name, False, "no oracle"))
                continue
            res = compare(_Collected(cols, rows), con, sql)
            detail = "" if res["ok"] else str(
                {k: v for k, v in res.items() if k != "ok"}
            )[:300]
            out.append(Check(name, res["ok"], detail))
        con.close()
        return out


@dataclass
class _PassState:
    ns: str = ""
    root: str = ""
    table: object = None
    writes: list[int] = field(default_factory=list)
    observed: dict = field(default_factory=dict)
    figures: dict = field(default_factory=dict)


class LakehouseCycle:
    """The reference pipeline (namespace, CREATE TABLE, parquet ingest,
    read-back) followed by the snapshot-table lifecycle on ``orders``:
    four appends, time travel, DELETE / UPDATE / MERGE, the metadata log,
    snapshot expiry, and DROP NAMESPACE. Each pass uses a fresh namespace
    and table root and removes both."""

    def __init__(self, ctx, seed: int):
        from biglake_iceberg_python_spark.lakehouse.catalog import LakehouseCatalog

        self.ctx = ctx
        self.catalog = LakehouseCatalog(ctx.spark)
        rng = random.Random(seed)
        self.seed = seed
        self.chunk_offset = rng.randrange(N_APPENDS)
        self.travel_to = rng.randint(2, N_APPENDS - 1)
        self.delete_mod = (53, rng.randrange(53))
        self.update_mod = (41, rng.randrange(41))
        self.merge_mod = (67, rng.randrange(67))
        self.lineitem_path = os.path.join(ctx.data_dir, "lineitem.parquet")
        self.orders_path = os.path.join(ctx.data_dir, "orders.parquet")
        self.n_orders = pq.ParquetFile(self.orders_path).metadata.num_rows
        self.lake_dir = os.path.join(ctx.work_dir, "lake")
        self.pass_no = 0
        self.st = _PassState()
        self.last: dict = {}

    # -- predicates (Spark and DuckDB spellings of the same condition) --

    def _chunk(self, i: int) -> str:
        return f"(o_orderkey + {self.chunk_offset}) % {N_APPENDS} = {i}"

    @staticmethod
    def _mod(m: tuple[int, int]) -> str:
        return f"o_orderkey % {m[0]} = {m[1]}"

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from biglake_iceberg_python_spark.lakehouse.snapshots import SnapshotTable
        from biglake_iceberg_python_spark.sources.tables import load_table

        ctx, cat, st = self.ctx, self.catalog, self.st
        self.pass_no += 1
        st.ns = f"perfbench_{self.seed}_{self.pass_no}"
        st.root = os.path.join(self.lake_dir, f"orders_{self.pass_no}")
        st.writes = []
        st.observed = {}
        st.figures = {}
        spark = ctx.spark

        def ddl():
            cat.create_namespace(st.ns)
            cat.create_table(
                st.ns, "lineitem", LINEITEM_DDL,
                properties={"ingest": "perfbench", "has_pii": "false"},
            )

        def ingest():
            cat.ingest_parquet(st.ns, "lineitem", self.lineitem_path, LINEITEM_COLUMNS)

        def read_back():
            row = cat.table(st.ns, "lineitem").agg(
                F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
            ).collect()[0]
            st.observed["read_back"] = (row["n"], row["q"])

        def write(i):
            def run():
                if st.table is None:
                    st.table = SnapshotTable(spark, st.root)
                chunk = load_table(spark, ctx.data_dir, "orders").filter(self._chunk(i))
                st.writes.append(st.table.write(chunk))
            return run

        def travel():
            st.observed["travel"] = st.table.read(st.writes[self.travel_to - 1]).count()

        def delete():
            st.table.delete_where(F.expr(self._mod(self.delete_mod)))

        def update():
            st.table.update_where(
                F.expr(self._mod(self.update_mod)), {"o_orderstatus": F.lit("U")}
            )

        def merge():
            m, r = self.merge_mod
            orders = load_table(spark, ctx.data_dir, "orders")
            updates = orders.filter(self._mod(self.merge_mod)).select(
                "o_orderkey", (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
                *[c for c in orders.columns if c not in ("o_orderkey", "o_totalprice")],
            )
            inserts = orders.filter(f"o_orderkey % {2 * m} = {r}").withColumn(
                "o_orderkey", F.col("o_orderkey") + self.n_orders
            )
            st.table.merge(
                updates.unionByName(inserts), on=["o_orderkey"],
                update_cols=["o_totalprice"],
            )

        def metadata_log():
            st.observed["snapshots"] = len(st.table.metadata_log_entries().collect())

        def expire():
            st.observed["expired"] = st.table.expire_snapshots(keep_last=1)["expired"]

        def drop():
            cat.drop_namespace(st.ns)

        def measure_ingest():
            st.figures["ingest_bytes"] = tree_bytes(ctx.warehouse_dir, ".parquet")[0]

        def measure_snapshots():
            # Before expiry: every commit's data dir is still on disk.
            b, n = tree_bytes(os.path.join(st.root, "data"), ".parquet")
            st.figures["snapshot_bytes"], st.figures["snapshot_files"] = b, n

        ops = [
            Op("catalog.ddl:create", "catalog.ddl", ddl),
            Op("catalog.ingest_parquet", "catalog.ingest_parquet", ingest,
               after=measure_ingest),
            Op("catalog.read_back", "catalog.read_back", read_back),
        ]
        ops += [
            Op(f"snapshots.write:{i}", "snapshots.write", write(i))
            for i in range(N_APPENDS)
        ]
        ops += [
            Op("snapshots.read", "snapshots.read", travel),
            Op("snapshots.delete_where", "snapshots.delete_where", delete),
            Op("snapshots.update_where", "snapshots.update_where", update),
            Op("snapshots.merge", "snapshots.merge", merge),
            Op("snapshots.metadata_log_entries", "snapshots.metadata_log_entries",
               metadata_log, after=measure_snapshots),
            Op("snapshots.expire_snapshots", "snapshots.expire_snapshots", expire),
            Op("catalog.ddl:drop", "catalog.ddl", drop),
        ]
        # The cycle is one pipeline run: isolate once, before it starts.
        for op in ops[1:]:
            op.isolate = False
        return ops

    def figures(self) -> dict[str, float]:
        """Write volume of the pass that just ended."""
        f = self.st.figures
        source = os.path.getsize(self.lineitem_path) + os.path.getsize(self.orders_path)
        return {
            "snapshots.files_written": f.get("snapshot_files", 0),
            "snapshots.bytes_written": f.get("snapshot_bytes", 0),
            "lakehouse.write_amp": (
                f.get("ingest_bytes", 0) + f.get("snapshot_bytes", 0)
            ) / source,
        }

    def end_pass(self) -> list[Check]:
        """Untimed tail of a pass: read the final table state for the checks,
        then remove the table root and assert nothing is left behind."""
        from pyspark.sql import functions as F

        st = self.st
        if st.table is not None and os.path.isdir(st.root):
            st.observed["after_expire"] = len(st.table.metadata_log_entries().collect())
            row = st.table.read().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)).alias("u"),
                F.sum("o_totalprice").alias("p"),
            ).collect()[0]
            st.observed["final"] = (row["n"], row["u"], row["p"])
        shutil.rmtree(st.root, ignore_errors=True)
        st.table = None
        self.last.update(st.observed)
        namespaces = {r[0] for r in self.catalog.list_namespaces().collect()}
        left = tree_bytes(self.ctx.warehouse_dir)
        checks = [
            Check("isolation:namespace", st.ns not in namespaces, st.ns),
            Check("isolation:warehouse", left == (0, 0), f"{left} bytes/files left"),
            Check("isolation:table_root", not os.path.exists(st.root), st.root),
        ]
        return [c for c in checks if not c.ok]

    def check(self, corrupt: bool) -> list[Check]:
        import duckdb

        con = duckdb.connect()
        li = f"read_parquet('{self.lineitem_path}')"
        orders = f"read_parquet('{self.orders_path}')"
        n, q = con.execute(f"SELECT count(*), sum(l_quantity) FROM {li}").fetchone()
        chunk_rows = [
            con.execute(f"SELECT count(*) FROM {orders} WHERE {self._chunk(i)}").fetchone()[0]
            for i in range(N_APPENDS)
        ]
        m, r = self.merge_mod
        # Final state after DELETE, UPDATE and MERGE, computed independently.
        # MERGE matches on o_orderkey: a source key that DELETE removed is
        # re-inserted with the source row, like the shifted new keys.
        final = con.execute(
            f"""
            WITH tgt AS (
              SELECT o_orderkey,
                     CASE WHEN {self._mod(self.update_mod)} THEN 'U'
                          ELSE o_orderstatus END AS st,
                     o_totalprice AS p
              FROM {orders} WHERE NOT ({self._mod(self.delete_mod)})
            ),
            src AS (
              SELECT o_orderkey, o_orderstatus AS st, o_totalprice + 1.0 AS p
              FROM {orders} WHERE {self._mod(self.merge_mod)}
              UNION ALL
              SELECT o_orderkey + {self.n_orders}, o_orderstatus, o_totalprice
              FROM {orders} WHERE o_orderkey % {2 * m} = {r}
            ),
            merged AS (
              SELECT t.o_orderkey, t.st, coalesce(s.p, t.p) AS p
              FROM tgt t LEFT JOIN src s USING (o_orderkey)
              UNION ALL
              SELECT * FROM src
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
            )
            SELECT count(*), sum(CASE WHEN st = 'U' THEN 1 ELSE 0 END), sum(p)
            FROM merged
            """
        ).fetchone()
        con.close()
        obs = dict(self.last)
        if corrupt:
            obs["read_back"] = (obs.get("read_back", (0, 0))[0] + 1, obs.get("read_back", (0, 0))[1])
        expected = {
            "read_back": (n, q),
            "travel": sum(chunk_rows[: self.travel_to]),
            "snapshots": N_APPENDS + 3,
            "expired": N_APPENDS + 2,
            "after_expire": 1,
            "final": (final[0], final[1], float(final[2])),
        }
        out = []
        for key, want in expected.items():
            got = obs.get(key)
            if key == "final" and got is not None:
                # The price sum adds the same doubles in another order.
                ok = got[:2] == want[:2] and abs(got[2] - want[2]) <= 1e-9 * abs(want[2])
            else:
                ok = got == want
            out.append(Check(f"lakehouse:{key}", ok, "" if ok else f"got {got}, want {want}"))
        return out


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the files under ``path`` whose names end with
    ``suffix``; (0, 0) when ``path`` does not exist."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
