"""Hidden partitioning: Iceberg partition transforms emulated on parquet.

Iceberg's defining layout feature (spec "Partitioning"; the reference's
stored procedure imports year/month/dayofmonth date-part functions for
exactly this, SURVEY.md §1.3) is that the partition key is a TRANSFORM of a
source column, maintained by the engine: users write and filter the SOURCE
column only, and the engine (a) derives the partition value on write and
(b) PROJECTS source-column predicates into partition predicates on read, so
partition pruning happens without the query ever naming the partition
column. This module implements that contract on plain partitioned parquet:

  * :class:`MonthsTransform` — ``months(ts_col)`` → int ``yyyymm``
  * :class:`BucketTransform` — ``bucket(n, col)`` → ``xxhash64(col) mod n``
    (Iceberg specifies murmur3-32; xxhash64 is Spark's built-in codegen
    hash — same contract, different hash function, documented here)

Pruning soundness follows Iceberg's rule: a projected partition predicate
must be IMPLIED by the source predicate (every row matching the source
predicate lives in a matching partition). Both transforms here are
monotone/congruent, so range→range and eq→eq projections are exact. The
row-level predicate is still applied after pruning — partition filters are
coarse, as in Iceberg.

Scale: the derived column exists only in the writer (one codegen
expression); reads list only matching partition dirs (O(selected
partitions) of metadata, not O(files)); nothing touches the driver but the
directory listing Spark already does.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PCOL = "__p"


class MonthsTransform:
    """``months(source_col)``: partition value = year*100 + month (int)."""

    def __init__(self, source_col: str):
        self.source_col = source_col

    def derive(self) -> "F.Column":
        c = F.col(self.source_col)
        return (F.year(c) * 100 + F.month(c)).cast("int")

    def project_range(self, lower: str, upper_exclusive: str) -> "F.Column":
        """Partition predicate implied by
        ``lower <= source_col < upper_exclusive`` (ISO date strings)."""
        lo = _dt.date.fromisoformat(lower[:10])
        hi = _dt.date.fromisoformat(upper_exclusive[:10])
        return (F.col(_PCOL) >= lo.year * 100 + lo.month) & (
            F.col(_PCOL) <= hi.year * 100 + hi.month
        )


class YearsTransform:
    """``years(source_col)``: partition value = year (int)."""

    def __init__(self, source_col: str):
        self.source_col = source_col

    def derive(self) -> "F.Column":
        return F.year(F.col(self.source_col)).cast("int")

    def project_range(self, lower: str, upper_exclusive: str) -> "F.Column":
        lo = _dt.date.fromisoformat(lower[:10])
        hi = _dt.date.fromisoformat(upper_exclusive[:10])
        return (F.col(_PCOL) >= lo.year) & (F.col(_PCOL) <= hi.year)


class BucketTransform:
    """``bucket(n, source_col)``: partition value = xxhash64(col) mod n."""

    def __init__(self, source_col: str, n: int):
        self.source_col = source_col
        self.n = n

    def derive(self) -> "F.Column":
        return F.pmod(F.xxhash64(F.col(self.source_col)), F.lit(self.n)).cast(
            "int"
        )

    def project_eq(self, value) -> "F.Column":
        """Partition predicate implied by ``source_col = value``: the
        single bucket that value hashes to (computed engine-side so the
        hash is identical to the writer's)."""
        return F.col(_PCOL) == F.pmod(
            F.xxhash64(F.lit(value)), F.lit(self.n)
        ).cast("int")


class SpecEvolvedTable:
    """Partition-SPEC evolution (Iceberg spec "Partition Evolution"): the
    table's partition layout can change over its lifetime WITHOUT
    rewriting existing data. Files written under an old spec keep their
    old directory layout forever; new writes use the current spec; a read
    prunes EACH spec's files with the predicate projected through THAT
    spec's transform, then unions the surviving file sets.

    This is the piece that makes hidden partitioning operationally viable
    at 100 TB: re-partitioning a petabyte table by rewriting it is a
    non-starter, so Iceberg versions the spec in metadata and resolves
    per-file at plan time. The emulation keys each spec to its own
    subdirectory (``spec=<id>/``) — the moral equivalent of Iceberg's
    per-manifest spec_id — so a scan is a union of per-spec pruned scans:
    O(selected partitions) directory metadata per spec, never a full
    listing, and the union is plan-level (no shuffle — each branch is just
    a pruned file scan).

    Writers and readers see the ORIGINAL schema; the partition column is
    engine-managed (derived on write, dropped on read, targeted by
    projected predicates only). A table that calls :meth:`evolve` once is
    a plain hidden-partitioned table.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.specs: list = []  # index = spec_id
        self._schemas: dict = {}  # spec_id -> staged schema (metadata)

    def evolve(self, transform) -> int:
        """Make ``transform`` the current partition spec; existing data is
        untouched (metadata-only, as in Iceberg's ALTER TABLE ... ADD
        PARTITION FIELD)."""
        self.specs.append(transform)
        return len(self.specs) - 1

    def _spec_root(self, spec_id: int) -> str:
        return os.path.join(self.root, f"spec={spec_id}", "data")

    def write(self, df: DataFrame) -> None:
        """Append under the CURRENT spec's layout."""
        if not self.specs:
            raise ValueError("no partition spec; call evolve() first")
        spec_id = len(self.specs) - 1
        t = self.specs[spec_id]
        staged = df.withColumn(_PCOL, t.derive())
        self._schemas[spec_id] = staged.schema  # metadata, not inference
        (
            staged.write.mode("append")
            .partitionBy(_PCOL)
            .parquet(self._spec_root(spec_id))
        )

    def _written_specs(self) -> list[int]:
        return [i for i in range(len(self.specs)) if i in self._schemas]

    def _scan(self, predicates) -> DataFrame:
        """Union of the per-spec scans: ``predicates(t)`` gives spec
        transform ``t``'s projected partition predicate and the exact
        row-level predicate. Each spec's files are pruned by its own
        projection; the row filter applies after, so spec granularity is
        invisible in results."""
        parts = []
        for spec_id in self._written_specs():
            prune, rows = predicates(self.specs[spec_id])
            parts.append(
                self.spark.read.schema(self._schemas[spec_id])
                .parquet(self._spec_root(spec_id))
                .filter(prune)
                .filter(rows)
                .drop(_PCOL)
            )
        if not parts:
            raise ValueError("table has no data")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def scan_range(self, lower: str, upper_exclusive: str) -> DataFrame:
        """Rows with ``lower <= source_col < upper_exclusive`` across ALL
        specs; the caller names only the source column's bounds."""

        def predicates(t):
            c = F.col(t.source_col)
            return t.project_range(lower, upper_exclusive), (
                (c >= F.lit(lower).cast("timestamp"))
                & (c < F.lit(upper_exclusive).cast("timestamp"))
            )

        return self._scan(predicates)

    def scan_eq(self, value) -> DataFrame:
        """Rows with ``source_col = value`` (bucket transforms)."""
        return self._scan(
            lambda t: (t.project_eq(value), F.col(t.source_col) == F.lit(value))
        )
