"""Snapshot layer: versioned parquet tables with a metadata log — the
portable analog of the Iceberg metadata surface the reference exercises
(metadata_log_entries scan, notebook cell 11; metadata pointers
README.md:539-552 — SURVEY.md A12).

Model (mirrors Iceberg's copy-on-write at directory granularity):
  * every commit writes data files under ``data/commit-<uuid>/``, then
    goes through ONE routine (:meth:`SnapshotTable._commit`): read the log
    and refs once, resolve the parent head of the target ref (explicit
    branch, else ``main`` once refs exist, else the log tail), validate
    ``expected_version``, build the entry from a per-operation callback,
    compare-and-swap it onto ``_metadata/metadata_log.json``
    (:meth:`SnapshotTable._swap_log`, which expiry uses too), then advance
    the ref. Only a plain append (no ``expected_version``) rebases and
    retries on conflict — appends commute; every other operation raises
    :class:`CommitConflictError`
  * a snapshot's manifest is the list of data dirs it comprises:
    append  → parent dirs + new dir
    overwrite → [new dir]
  * every entry records the table schema (Spark's StructType JSON, read
    at commit from the footer key Spark's own schema inference reads): an
    overwrite or first commit records what it wrote, an append keeps its
    parent's schema, and the metadata-only commits (MOR delete, rollback,
    clone) copy their source entry's
  * reads resolve a snapshot (latest or time-travel by id) to its dir list
    and hand Spark a multi-path parquet scan under the recorded schema —
    pruning/pushdown intact, and the schema is never inferred from footers
    (inference is a Spark job per read)

Scale notes: commits are O(metadata) on the driver (a JSON append — the
same "metadata pointer swap" Iceberg does); data I/O is fully distributed.
The log never stores row data. For production durability this JSON would be
swapped for an atomic rename / catalog pointer, which is exactly what the
reference's BLMS provides (README.md:543-548).
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The footer key under which Spark's parquet writer stores the StructType
# JSON of the rows, and which Spark's schema inference reads back.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Schemas of the metadata tables (every field nullable).
_LOG_SCHEMA = pa.schema(
    [
        ("snapshot_id", pa.int64()),
        ("operation", pa.string()),
        ("n_data_dirs", pa.int64()),
        ("is_current", pa.bool_()),
    ]
)
_REFS_SCHEMA = pa.schema(
    [("name", pa.string()), ("type", pa.string()), ("snapshot_id", pa.int64())]
)


class CommitConflictError(RuntimeError):
    """Another writer committed since this operation read its base
    snapshot, and the operation cannot be safely reapplied — the analog of
    Iceberg's ValidationException on optimistic-commit failure."""


class SnapshotTable:
    """A versioned parquet table with append/overwrite commits, time
    travel, an inspectable metadata log, and optimistic concurrency:
    commits are compare-and-swap against the snapshot list, appends
    rebase-and-retry on conflict (appends commute), and overwrites
    validating an ``expected_version`` fail if the table moved — Iceberg's
    commit protocol, with the atomic catalog pointer swap played by
    ``os.replace`` on the log file."""

    _MAX_COMMIT_RETRIES = 5

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_path = os.path.join(root, "_metadata", "metadata_log.json")
        self.refs_path = os.path.join(root, "_metadata", "refs.json")
        os.makedirs(os.path.dirname(self.meta_path), exist_ok=True)
        if not os.path.exists(self.meta_path):
            _write_json(self.meta_path, [])

    # -- commit protocol --

    def _commit(
        self,
        operation: str,
        build,
        branch: str | None = None,
        expected_version: int | None = None,
        parent_id: int | None = None,
    ) -> int:
        """The one commit path; returns the new snapshot id.

        Reads the log and refs once and resolves the parent head of the
        target ref: the explicit ``branch``, else ``main`` once any ref
        exists, else the log tail (``parent_id`` names another parent —
        rollback's target). Validates ``expected_version`` against that
        head, assigns the next snapshot id, builds the entry as
        ``{snapshot_id, operation, **build(head, snapshot_id)}``,
        compare-and-swaps it onto the log (:meth:`_swap_log`) and advances
        the ref. On conflict only a plain append (no ``expected_version``)
        rebases against the fresh parent and retries — concurrent appends
        commute (Iceberg's fast-append path); anything else raises, because
        its entry was derived from a base another writer has replaced.

        An EXPLICIT branch must exist even before any ref does —
        ``write(branch='typo')`` on a fresh table is an error, not a silent
        main-line commit; 'main' is the one implicit ref (Iceberg: main
        always exists). Tags are immutable, so committing to one raises.
        """
        for _ in range(self._MAX_COMMIT_RETRIES):
            log = self._read_log()
            refs = self._read_refs()
            ref = (branch or "main") if refs else None
            if ref is None and branch not in (None, "main"):
                raise ValueError(f"unknown ref {branch!r}")
            if ref is not None:
                if ref not in refs:
                    raise ValueError(f"unknown ref {ref!r}")
                if refs[ref]["type"] != "branch":
                    raise ValueError(
                        f"cannot write to tag {ref!r}: tags are immutable"
                    )
                head_id = refs[ref]["snapshot_id"]
            else:
                head_id = log[-1]["snapshot_id"] if log else 0
            if expected_version is not None and head_id != expected_version:
                raise CommitConflictError(
                    f"table moved past expected snapshot {expected_version}"
                )
            head = _entry(log, head_id if parent_id is None else parent_id)
            snap_id = (log[-1]["snapshot_id"] + 1) if log else 1
            entry = {
                "snapshot_id": snap_id,
                "operation": operation,
                **build(head, snap_id),
            }
            if ref is not None:
                entry["branch"] = ref
            try:
                self._swap_log(log, log + [entry])
            except CommitConflictError:
                if operation != "append" or expected_version is not None:
                    raise
                continue  # rebase the append against the fresh parent
            if ref is not None:
                refs[ref] = {"type": "branch", "snapshot_id": snap_id}
                _write_json(self.refs_path, refs)
            return snap_id
        raise CommitConflictError(
            f"gave up after {self._MAX_COMMIT_RETRIES} rebase attempts"
        )

    def _swap_log(self, expected_log: list[dict], log: list[dict]) -> None:
        """Compare-and-swap: replace the on-disk log with ``log`` only if it
        still matches ``expected_log``. Single-process emulation of the
        atomic metadata-pointer swap a real catalog (BLMS in the reference,
        README.md:543-548) provides; the swap itself is ``os.replace``."""
        current = self._read_log()
        if [e["snapshot_id"] for e in current] != [
            e["snapshot_id"] for e in expected_log
        ]:
            raise CommitConflictError(
                "concurrent commit: log advanced during this operation"
            )
        _write_json(self.meta_path, log)

    def _carry(self, src: dict) -> dict:
        """What a commit inherits from ``src``: per-dir sequence numbers (a
        copy the caller may extend), the table schema, and any
        equality-delete files."""
        out = {"dir_seq": dict(self._dir_seq(src)), "schema": src.get("schema")}
        if src.get("deletes"):
            out["deletes"] = src["deletes"]
        return out

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        expected_version: int | None = None,
        branch: str | None = None,
    ) -> int:
        """Commit a new snapshot; returns its snapshot id.

        The data write is a normal distributed parquet write and happens
        ONCE; the commit is optimistic (:meth:`_commit`): on conflict an
        append rebases against the new parent and retries, an overwrite
        raises.

        ``expected_version`` adds Iceberg-style validation for
        read-modify-write callers (delete/update/merge): the commit fails
        unless the table is still at that snapshot, regardless of mode.

        ``branch`` commits on a named branch (Iceberg's write-to-ref): the
        parent is the BRANCH head, not the table head, and the branch ref
        advances on success. Once any ref exists, a plain write targets
        the ``main`` branch, so main-line history and branch history stay
        independent even though all snapshots share one log. Writing to a
        tag raises — tags are immutable.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        data_dir = os.path.join(
            self.root, "data", f"commit-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("errorifexists").parquet(data_dir)
        stats, n_rows, schema = self._read_footers(data_dir)

        def build(head: dict | None, snap_id: int) -> dict:
            if head is None or mode == "overwrite":
                fields = {
                    "data_dirs": [data_dir],
                    "dir_seq": {data_dir: snap_id},
                    "schema": schema,
                }
                parent_rows = {}
            else:
                # An append keeps its parent's schema, whatever column
                # order the appended frame had, and its equality-delete
                # files: they keep applying to the older dirs (never to
                # this new dir, whose seq exceeds every existing delete's).
                fields = self._carry(head)
                fields["data_dirs"] = head["data_dirs"] + [data_dir]
                fields["dir_seq"][data_dir] = snap_id
                parent_rows = head.get("dir_rows", {})
            fields["added_dir"] = data_dir
            if stats is not None:
                fields["stats"] = stats
            if n_rows is not None:
                fields["dir_rows"] = {**parent_rows, data_dir: n_rows}
            return fields

        return self._commit(mode, build, branch, expected_version)

    # -- refs: branches and tags (Iceberg's named-ref surface) --

    def _ensure_main(self, refs: dict) -> dict:
        """First ref creation materializes ``main`` at the current head, so
        main-line writes keep a stable identity once history forks."""
        if "main" not in refs:
            refs["main"] = {
                "type": "branch",
                "snapshot_id": self.current_snapshot_id(),
            }
        return refs

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Immutable named pointer to a snapshot (Iceberg ``CREATE TAG``):
        reads via the tag always see exactly this version — the audit /
        reproducibility primitive (pin the corpus a model trained on)."""
        return self._create_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Named MUTABLE line of history starting at ``snapshot_id`` (or
        the current head) — Iceberg's ``CREATE BRANCH``: write-audit-publish
        workflows commit to a branch, validate, then fast-forward main."""
        return self._create_ref(name, "branch", snapshot_id)

    def _create_ref(self, name: str, kind: str, snapshot_id: int | None) -> int:
        log = self._read_log()
        if snapshot_id is None:
            snapshot_id = log[-1]["snapshot_id"] if log else 0
        if _entry(log, snapshot_id) is None:
            raise ValueError(f"no snapshot {snapshot_id} to reference")
        refs = self._ensure_main(self._read_refs())
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        refs[name] = {"type": kind, "snapshot_id": snapshot_id}
        _write_json(self.refs_path, refs)
        return snapshot_id

    def fast_forward(self, branch: str, to_ref: str) -> int:
        """Advance ``branch`` to ``to_ref``'s snapshot (Iceberg's
        ``fast_forward`` procedure) — the PUBLISH step of
        write-audit-publish: work committed and validated on an audit
        branch becomes what main's readers see, as a pure metadata pointer
        move (no data is copied or rewritten). Returns the new head id."""
        refs = self._read_refs()
        for n in (branch, to_ref):
            if n not in refs:
                raise ValueError(f"unknown ref {n!r}")
        if refs[branch]["type"] != "branch":
            raise ValueError(f"cannot fast-forward tag {branch!r}")
        target = refs[to_ref]["snapshot_id"]
        refs[branch] = {"type": "branch", "snapshot_id": target}
        _write_json(self.refs_path, refs)
        return target

    def read_ref(self, name: str) -> DataFrame:
        """Read the snapshot a branch head or tag points at (Iceberg's
        ``VERSION AS OF 'ref'``)."""
        refs = self._read_refs()
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        return self.read(refs[name]["snapshot_id"])

    def refs_entries(self) -> DataFrame:
        """The refs table as a DataFrame (the analog of Iceberg's
        ``SELECT * FROM t.refs``)."""
        refs = sorted(self._read_refs().items())
        return self._local_table(
            _REFS_SCHEMA,
            name=[n for n, _ in refs],
            type=[r["type"] for _, r in refs],
            snapshot_id=[r["snapshot_id"] for _, r in refs],
        )

    def _read_refs(self) -> dict:
        if not os.path.exists(self.refs_path):
            return {}
        with open(self.refs_path) as f:
            return json.load(f)

    @staticmethod
    def _read_footers(data_dir: str) -> tuple[dict | None, int | None, dict | None]:
        """Column stats, row count and Spark schema of a just-written data
        dir, from ONE footer read per file — metadata only, no data pass
        (the manifest role in Iceberg: column bounds, ``record_count``,
        and the table schema). Best-effort: an unreadable footer leaves
        all three None, and reads of that entry fall back to inference."""
        try:
            footers = [
                pq.read_metadata(os.path.join(data_dir, f))
                for f in sorted(os.listdir(data_dir))
                if f.endswith(".parquet")
            ]
        except (OSError, pa.ArrowException):
            return None, None, None
        schema = next(
            (
                json.loads(md.metadata[_SPARK_SCHEMA_KEY])
                for md in footers
                if md.metadata and _SPARK_SCHEMA_KEY in md.metadata
            ),
            None,
        )
        n_rows = sum(md.num_rows for md in footers)
        return SnapshotTable._collect_stats(footers), n_rows, schema

    @staticmethod
    def _collect_stats(footers: list) -> dict | None:
        """Per-commit column min/max harvested from the parquet footers of
        the just-written files — the manifest-file role in Iceberg: stats
        ride the metadata, no data pass happens. Driver cost is O(files in
        this commit) footer reads (Iceberg planners read manifests the
        same way). Timestamps/dates serialize as ISO strings (ISO order ==
        chronological order, so pruning compares stay correct); binary
        columns are skipped."""
        import datetime as _dt

        def _ser(v):
            if isinstance(v, (_dt.datetime, _dt.date)):
                return v.isoformat()
            if isinstance(v, (int, float, str, bool)):
                return v
            return None

        mins: dict = {}
        maxs: dict = {}
        try:
            for md in footers:
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            continue
                        name = col.path_in_schema
                        lo, hi = _ser(st.min), _ser(st.max)
                        if lo is None or hi is None:
                            continue
                        if name not in mins or lo < mins[name]:
                            mins[name] = lo
                        if name not in maxs or hi > maxs[name]:
                            maxs[name] = hi
        except Exception:  # stats are best-effort metadata, never fatal
            return None
        if not mins:
            return None
        return {c: [mins[c], maxs[c]] for c in mins if c in maxs}

    def scan_where(self, column: str, lower, upper) -> DataFrame:
        """Read only the data directories whose recorded [min, max] for
        ``column`` overlaps ``[lower, upper)`` — manifest-level min/max
        pruning: commits whose stats exclude the range are never opened
        (their parquet footers aren't even read). Directories from commits
        without stats are conservatively kept. The exact row filter is
        applied after, so results are independent of pruning."""
        from pyspark.sql import functions as F

        log = self._read_log()
        if not log:
            raise ValueError("table has no snapshots")
        head = self._head_entry(log)
        if head is None:
            raise ValueError("main ref points at an expired snapshot")
        if head.get("deletes"):
            raise ValueError(
                "scan_where over merge-on-read delete files is unsupported: "
                "stats pruning cannot see delete-file tombstones — run "
                "rewrite_mor() first"
            )
        stats_by_dir = {
            e["added_dir"]: e.get("stats") for e in log
        }
        dirs = []
        for d in head["data_dirs"]:
            s = (stats_by_dir.get(d) or {}).get(column)
            if s is None or not (s[1] < lower or s[0] >= upper):
                dirs.append(d)
        if not dirs:
            return self.read().filter(F.lit(False))
        df = self._scan(head, *dirs)
        dtype = dict(df.dtypes)[column]
        return df.filter(
            (F.col(column) >= F.lit(lower).cast(dtype))
            & (F.col(column) < F.lit(upper).cast(dtype))
        )

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        update_cols: list[str] | None = None,
    ) -> int:
        """MERGE INTO (upsert) committed as an overwrite snapshot — COW
        semantics, same as Iceberg's copy-on-write MERGE. Logic lives in
        merge.py (a full-outer-join re-expression, Catalyst-optimizable)."""
        from biglake_iceberg_python_spark.lakehouse.merge import merge_into

        base = self.current_snapshot_id()
        merged = merge_into(self.read(), source, on=on, update_cols=update_cols)
        return self.write(merged, mode="overwrite", expected_version=base)

    def delete_where(self, condition) -> int:
        """Row-level ``DELETE FROM ... WHERE`` committed as an overwrite
        snapshot — Iceberg v2's copy-on-write delete (null-safe: rows where
        the predicate is NULL are kept, matching SQL DELETE semantics).

        Scale boundary (documented, same as MERGE): real Iceberg COW
        rewrites only the data files containing matches (manifest min/max
        pruning picks them); this dir-granularity emulation rewrites the
        table. Iceberg's merge-on-read alternative (position/equality
        delete files) defers the rewrite entirely — at 100 TB you'd choose
        MOR for point deletes, COW for sweeping deletes like GDPR erasure.
        Time travel keeps pre-delete snapshots readable either way.
        """
        from pyspark.sql import functions as F

        base = self.current_snapshot_id()
        kept = self.read().filter(~F.coalesce(condition, F.lit(False)))
        return self.write(kept, mode="overwrite", expected_version=base)

    def delete_where_mor(self, condition, eq_cols: list[str]) -> int:
        """Merge-on-read ``DELETE WHERE``: instead of rewriting data files
        (COW), commit an EQUALITY-DELETE file holding the distinct
        ``eq_cols`` values of matching rows; reads apply it as an
        anti-join. Iceberg v2's point-delete path — O(matches) write cost
        regardless of table size, the right trade when deletes are small
        against huge tables (GDPR row erasure); sweeping deletes still use
        COW :meth:`delete_where`, and :meth:`rewrite_mor` folds
        accumulated delete files back into data files.

        Sequence-number semantics match Iceberg: a delete file applies
        only to data files COMMITTED BEFORE it — rows appended after the
        delete are untouched even if they carry matching key values
        (each data dir records its commit sequence; the read path scopes
        every delete to older dirs).
        """
        base = self.current_snapshot_id()
        keys = self.read().filter(condition).select(*eq_cols).distinct()
        del_dir = os.path.join(
            self.root, "deletes", f"commit-{uuid.uuid4().hex[:8]}"
        )
        keys.write.mode("errorifexists").parquet(del_dir)
        keys_schema = json.loads(keys.schema.json())

        # Anchored on the MAIN head, not the log tail — a branch commit at
        # the tail must not become the parent of a main-line delete.
        def build(head: dict, snap_id: int) -> dict:
            fields = self._carry(head)
            fields["deletes"] = fields.get("deletes", []) + [
                {
                    "dir": del_dir,
                    "cols": eq_cols,
                    "seq": snap_id,
                    "schema": keys_schema,
                }
            ]
            return {"data_dirs": head["data_dirs"], "added_dir": del_dir, **fields}

        return self._commit("mor_delete", build, expected_version=base)

    def rollback(self, snapshot_id: int) -> int:
        """Iceberg's ``rollback_to_snapshot``: make an OLD snapshot the
        current table state by committing a NEW snapshot that points at
        the old one's data — a pure metadata move that undoes bad writes
        instantly while preserving the full history (the bad snapshots
        stay readable for forensics until expiry; contrast with expiry,
        which destroys history)."""

        def build(target: dict | None, _snap_id: int) -> dict:
            if target is None:
                raise ValueError(f"no snapshot {snapshot_id} to roll back to")
            return {
                "data_dirs": target["data_dirs"],
                "added_dir": target["added_dir"],
                **self._carry(target),
                "rolled_back_to": snapshot_id,
            }

        return self._commit("rollback", build, parent_id=snapshot_id)

    def rewrite_mor(self) -> int:
        """Compaction for merge-on-read: materialize the delete-applied
        view as one overwrite commit, clearing accumulated delete files —
        Iceberg's rewrite_data_files maintenance action for MOR tables."""
        base = self.current_snapshot_id()
        return self.write(self.read(), mode="overwrite", expected_version=base)

    @staticmethod
    def _dir_seq(entry: dict) -> dict:
        """Commit sequence per data dir (dirs from pre-MOR snapshots
        default to their position-independent snapshot id 0 — all older
        than any delete)."""
        return entry.get(
            "dir_seq", {d: 0 for d in entry["data_dirs"]}
        )

    def update_where(self, condition, assignments: dict) -> int:
        """Row-level ``UPDATE ... SET ... WHERE`` committed as an overwrite
        snapshot — copy-on-write UPDATE: non-matching rows pass through
        bit-identical, matching rows take the assignment expressions.
        ``assignments`` maps column name -> Column expression. Same COW/MOR
        scale boundary as :meth:`delete_where`.
        """
        from pyspark.sql import functions as F

        base = self.current_snapshot_id()
        cur = self.read()
        unknown = [c for c in assignments if c not in cur.columns]
        if unknown:
            raise ValueError(f"assignments for unknown columns: {unknown}")
        cond = F.coalesce(condition, F.lit(False))
        updated = cur.select(
            *[
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in cur.columns
            ]
        )
        return self.write(updated, mode="overwrite", expected_version=base)

    # -- reads --

    def _head_entry(self, log: list[dict], refs: dict | None = None):
        """Resolve the DEFAULT head entry. Branch commits append to the
        shared log, so once refs exist the head is ``refs['main']`` — never
        the log tail — or a plain read() after any write(branch=...) would
        leak the branch's data into main (Iceberg's default-to-main
        semantics). Ref-less tables keep the cheap tail resolution."""
        if refs is None:
            refs = self._read_refs()
        if refs and "main" in refs:
            return _entry(log, refs["main"]["snapshot_id"])
        return log[-1] if log else None

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Read latest (the ``main`` head once refs exist), or time-travel
        to ``snapshot_id`` (the analog of Iceberg's VERSION AS OF)."""
        log = self._read_log()
        if not log:
            raise ValueError("table has no snapshots")
        if snapshot_id is None:
            entry = self._head_entry(log)
            if entry is None:
                raise ValueError("main ref points at an expired snapshot")
        else:
            entry = _entry(log, snapshot_id)
            if entry is None:
                raise ValueError(f"no snapshot {snapshot_id}; log has {len(log)}")
        dels = entry.get("deletes", [])
        if not dels:
            return self._scan(entry, *entry["data_dirs"])
        # Merge-on-read: apply each equality-delete file to the data dirs
        # committed BEFORE it (Iceberg sequence-number scoping) — rows
        # appended after a delete are untouched even on key match.
        seqs = self._dir_seq(entry)
        out = None
        for d in entry["data_dirs"]:
            df = self._scan(entry, d)
            for dl in dels:
                if dl["seq"] > seqs.get(d, 0):
                    keys = self._scan(dl, dl["dir"])
                    df = df.join(keys, on=dl["cols"], how="left_anti")
            out = df if out is None else out.unionByName(df)
        return out

    def clone_to(self, dest_root: str) -> "SnapshotTable":
        """Shallow (zero-copy) clone: a NEW table whose first snapshot
        references this table's current data directories — no data files
        move or copy, only metadata is written (the Delta SHALLOW CLONE /
        Iceberg snapshot-table pattern used for dev/test forks of
        production tables).

        The clone evolves independently: its appends land under ITS root,
        and source commits after the clone are invisible to it. The
        standard caveat applies and is enforced where it would corrupt:
        expire/compact on the source can delete files a clone still
        references (document retention accordingly), and tables with
        PENDING merge-on-read deletes refuse to clone (the clone's
        sequence numbers restart at 1, which would break delete scoping —
        run rewrite_mor() first).
        """
        head = self._head_entry(self._read_log())
        if head is None:
            raise ValueError("cannot clone an empty table")
        if head.get("deletes"):
            raise ValueError(
                "table has pending MoR deletes; run rewrite_mor() before "
                "cloning"
            )
        fields = {
            "data_dirs": list(head["data_dirs"]),
            "added_dir": None,
            "dir_seq": {d: 1 for d in head["data_dirs"]},
            "schema": head.get("schema"),
        }
        if head.get("stats"):
            fields["stats"] = head["stats"]
        clone = SnapshotTable(self.spark, dest_root)
        # expected_version=0: a clone's first snapshot lands on an empty log.
        clone._commit("clone", lambda _head, _id: fields, expected_version=0)
        return clone

    def read_incremental(self, from_snap: int, to_snap: int) -> DataFrame:
        """Rows ADDED by snapshots in ``(from_snap, to_snap]`` — the
        CDC-style incremental append scan (the analog of Iceberg's
        ``start-snapshot-id``/``end-snapshot-id`` read).

        Only the per-snapshot added directories are scanned — cost is
        proportional to the delta, not the table. Raises if the range
        contains an overwrite commit, matching Iceberg's incremental scan,
        which supports append-only history.
        """
        log = self._read_log()
        sel = [e for e in log if from_snap < e["snapshot_id"] <= to_snap]
        if not sel:
            raise ValueError(
                f"no snapshots in ({from_snap}, {to_snap}]; log has {len(log)}"
            )
        bad = [e["snapshot_id"] for e in sel if e["operation"] != "append"]
        if bad:
            raise ValueError(
                f"incremental read over non-append snapshots {bad}; "
                "overwrite breaks append-delta semantics"
            )
        return self._scan(sel[-1], *[e["added_dir"] for e in sel])

    def _scan(self, meta: dict, *dirs: str) -> DataFrame:
        """Parquet scan of ``dirs`` under the schema ``meta`` (a log entry
        or delete record) recorded at commit, so building the read starts
        no Spark job. Only entries without a recorded schema (older logs,
        unreadable footers) fall back to footer inference."""
        reader = self.spark.read
        if meta.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(meta["schema"]))
        return reader.parquet(*dirs)

    def metadata_log_entries(self) -> DataFrame:
        """The metadata log as a DataFrame — the analog of the reference's
        ``SELECT * FROM t.metadata_log_entries`` (notebook cell 11)."""
        log = self._read_log()
        head = self._head_entry(log)
        return self._local_table(
            _LOG_SCHEMA,
            snapshot_id=[e["snapshot_id"] for e in log],
            operation=[e["operation"] for e in log],
            n_data_dirs=[len(e["data_dirs"]) for e in log],
            is_current=[e is head for e in log],
        )

    def _local_table(self, schema: pa.Schema, **columns: list) -> DataFrame:
        """A metadata table as a JVM-local relation: an Arrow table handed
        to Spark needs no Python worker, and collecting it runs no job."""
        return self.spark.createDataFrame(pa.table(columns, schema=schema))

    # -- maintenance --

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg's ``expireSnapshots`` maintenance action: drop all but
        the newest ``keep_last`` snapshots from the log, then delete every
        data directory no surviving snapshot references (orphan sweep).

        Time travel to an expired snapshot becomes an error — exactly the
        Iceberg trade: history costs storage, expiry reclaims it. The log
        rewrite goes through the same CAS commit path as writes, so a
        concurrent commit during expiry fails safe rather than resurrect
        expired state. Returns ``{"expired": n, "dirs_removed": m}``.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        log = self._read_log()
        if len(log) <= keep_last:
            return {"expired": 0, "dirs_removed": 0}
        # Ref-protected snapshots never expire (Iceberg: expireSnapshots
        # retains any snapshot a branch or tag references).
        protected = {r["snapshot_id"] for r in self._read_refs().values()}
        tail = log[-keep_last:]
        kept = [
            e
            for e in log
            if e in tail or e["snapshot_id"] in protected
        ]
        dropped = [e for e in log if e not in kept]
        if not dropped:
            return {"expired": 0, "dirs_removed": 0}
        live = {d for e in kept for d in e["data_dirs"]} | {
            dl["dir"] for e in kept for dl in e.get("deletes", [])
        }
        # A clone's first entry adds no dir (added_dir None): its dirs
        # belong to the source table and are never this table's to remove.
        dead = [
            d
            for e in dropped
            for d in [e["added_dir"]]
            if d is not None and d not in live and os.path.isdir(d)
        ]
        self._swap_log(log, kept)
        for d in dead:
            shutil.rmtree(d, ignore_errors=True)
        return {"expired": len(dropped), "dirs_removed": len(dead)}

    def metadata_row_count(self, snapshot_id: int | None = None) -> int:
        """COUNT(*) answered from commit metadata alone — the Iceberg
        manifests-only count: per-dir row counts were harvested from
        parquet footers at WRITE time, so no data file is opened here.

        Raises when the snapshot carries merge-on-read delete files (their
        matched rows are unknown without a scan — exactly when Iceberg
        falls back too) or predates row-count recording.
        """
        log = self._read_log()
        if snapshot_id is None:
            entry = self._head_entry(log)
        else:
            entry = _entry(log, snapshot_id)
        if entry is None:
            raise ValueError("no such snapshot")
        if entry.get("deletes"):
            raise ValueError(
                "MoR delete files pending — metadata count needs a scan "
                "(run rewrite_mor() first)"
            )
        dir_rows = entry.get("dir_rows")
        if dir_rows is None or any(d not in dir_rows for d in entry["data_dirs"]):
            raise ValueError("snapshot predates row-count metadata")
        return sum(dir_rows[d] for d in entry["data_dirs"])

    def current_snapshot_id(self) -> int:
        """Id of the default head — ``refs['main']`` once refs exist (see
        :meth:`_head_entry`), else the log tail."""
        log = self._read_log()
        head = self._head_entry(log)
        return head["snapshot_id"] if head else 0

    # -- log IO (driver-side, O(snapshots)) --

    def _read_log(self) -> list[dict]:
        with open(self.meta_path) as f:
            return json.load(f)


def _entry(log: list[dict], snapshot_id: int) -> dict | None:
    """The log entry with ``snapshot_id``, or None (expired / never was)."""
    return next((e for e in log if e["snapshot_id"] == snapshot_id), None)


def _write_json(path: str, obj) -> None:
    """Write a metadata file atomically: a temp file, then ``os.replace``
    (the pointer swap)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)
