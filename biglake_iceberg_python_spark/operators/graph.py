"""Iterative graph analytics on DataFrames (SURVEY.md §2B [EXT]).

No reference file:line exists (the reference executes no analytics —
SURVEY.md §2A); this extends the co-occurrence work in
``operators/business.py`` (basket_copurchase_lift) from pairwise statistics
to whole-graph structure.

  * PageRank — fixed-iteration power method over the part co-purchase
    graph. Each iteration is exactly one equi-join (ranks onto edges, both
    sides hash-partitioned on the node key) plus one map-side-combined
    aggregation — the irreducible per-iteration cost of distributed
    PageRank (Pregel/GraphX do the same joins under message-passing names).
    Edges and ranks stay DataFrames; nothing graph-sized visits the driver.

Determinism contract: per-node contribution sums are quantized to integer
micro-units (floor(x * 1e12) as BIGINT) before the shuffle-sum, so
aggregation order cannot perturb low bits and every engine computes the
same 64-bit integers — the final double ranks are bit-identical to the
DuckDB oracle's (which unrolls the same three iterations as chained CTEs).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biglake_iceberg_python_spark.plans.registry import query
from biglake_iceberg_python_spark.sources.tables import load_table

_ITERS = 3
_QUANT = 1e12  # contribution quantum: floor(rank/deg * _QUANT) as BIGINT
_TOP_N = 20

# Size-adaptive join strategy for the node-sized state the iteratives carry
# between rounds (pagerank's rank vector, k-core's survivor set): broadcast
# while |V| fits an executor, flip to a co-partitioned shuffle join past it.
# 20M nodes ≈ 320 MB of (long, double) rows — comfortably under the 8 GB
# broadcast hard cap with headroom for row overhead; a 100 TB web graph
# (billions of nodes) lands in the shuffle regime, where the per-round
# joins shuffle the node-sized state instead. Tests force each regime via
# the conf (tests/test_plans.py::test_graph_iteratives_*_regime).
_BCAST_NODE_LIMIT_CONF = "spark.graft.graph.broadcastNodeLimit"
_BCAST_NODE_LIMIT_DEFAULT = 20_000_000


def _node_broadcast_limit(spark: SparkSession) -> int:
    try:
        return int(
            spark.conf.get(
                _BCAST_NODE_LIMIT_CONF, str(_BCAST_NODE_LIMIT_DEFAULT)
            )
        )
    except (TypeError, ValueError):
        return _BCAST_NODE_LIMIT_DEFAULT


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected simple co-purchase graph: parts sharing an order.

    Order-key self-join — the standard co-occurrence shape. TPC-H orders
    hold <= 7 distinct parts, so the join fans out at most 42 pairs per
    order; for corpora with heavy containers, cap items-per-order first
    (same doc-frequency cap as dedup_ngram_jaccard) to bound the quadratic
    term before the shuffle.
    """
    # NULL keys out (round-12 warehouse axis): the oracle's a.ok = b.ok
    # self-join never matches a NULL order key, but groupBy would fuse
    # EVERY keyless line into one mega-group whose pair expansion is
    # quadratic in its size — both wrong and a scale hazard. NULL pk is
    # dropped by collect_set anyway; the filter makes it explicit.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    # collect_set per order, then expand pairs map-side: one shuffle on ok
    # + one distinct on the pair key. The equivalent items self-join costs
    # an extra exchange per join side. The expansion emits only the
    # ORIENTED half (src < dst) so the distinct — the largest shuffle in
    # the query — carries half the pair volume; the symmetric mirror is
    # re-added map-side AFTER dedup (src ≠ dst, so no pair is its own
    # mirror and the union introduces no duplicates). Result is identical
    # to the full both-directions distinct, ~35% faster (measured at
    # sf0.1) and half the exchange bytes at 100 TB.
    #
    # The ok shuffle is an EXPLICIT projected repartition feeding the
    # groupBy (which then reuses the partitioning — exchange count
    # unchanged, round 13): with the aggregate's own ENSURE_REQUIREMENTS
    # exchange, the partial collect_set runs on the SCAN splits (a
    # single-row-group file single-threads it) and AQE coalesces the
    # post-shuffle side to ~4 partitions right under the quadratic pair
    # expansion — the two heaviest stages in every graph query ran at 1/32
    # and 1/8 of the available cores. The explicit repartition moves ALL
    # set-building + expansion work behind a full-width exchange of bare
    # (ok, pk) longs, and PINS the partition count to the configured
    # shuffle parallelism (repartition(col) alone is still AQE-coalescable
    # — measured: the explosion stage still collapsed to 5 partitions;
    # advisory sizing sees the ~5 MB of grouped sets flowing IN, not the
    # ~40× pair volume the explosion emits). Measured at sf0.1: pagerank
    # 3.2s → 2.2s, kcore 2.9s → 2.1s. At 100 TB the exchange carries the
    # same two-long projection on the same key at the cluster-sized
    # shuffle.partitions (the former partial collect_set deduped repeat
    # (ok, pk) lines pre-exchange, but same-part repeats within an order
    # are a few percent of lines); order keys are ≤7-line groups, so
    # forgoing AQE's skew splitting on this one exchange is safe.
    # Guarded int(): platforms may set the conf non-numerically (e.g.
    # "auto"), and a session not built by build_session may carry such a
    # value — fall back to defaultParallelism (round-13 ADVICE #1).
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_shuffle = spark.sparkContext.defaultParallelism
    sets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(n_shuffle, F.col("ok"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("ps"))
    )
    # Oriented-half emission via double explode + a CODEGEN comparison
    # (round 14): the former `filter(ps, x -> x > src)` lambda runs
    # interpreted per element inside the explode — the plain predicate
    # keeps the whole expansion in whole-stage codegen (A/B: ~6% off the
    # heaviest stage in every graph query). Same rows reach the distinct
    # exchange: the src<dst filter sits below it either way.
    half = (
        sets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("dst") > F.col("src"))
        .distinct()
    )
    return half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


# MATERIALIZED mirrors the Spark side's localCheckpoint: edges is
# referenced by deg, all three rounds, and the final ranking — without the
# hint DuckDB's CTE inlining re-derives the co-purchase self-join per
# reference (linear blowup here; the kcore chain below is the exponential
# case). No semantic effect.
_ORACLE_ITER = """
    r{t} AS MATERIALIZED (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) / any_value(nn.n)
               + CAST(0.85 AS DOUBLE)
                 * (CAST(SUM(CAST(FLOOR(r.rank / d.deg * 1e12) AS BIGINT))
                         AS DOUBLE) / 1e12) AS rank
      FROM edges e
      JOIN r{p} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      CROSS JOIN n nn
      GROUP BY e.dst
    )"""


@query(
    "graph_pagerank",
    oracle=(
        """
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), edges AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
    ), deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), n AS (
      SELECT COUNT(*) AS n FROM deg
    ), r0 AS (
      SELECT d.src AS node, CAST(1.0 AS DOUBLE) / nn.n AS rank
      FROM deg d CROSS JOIN n nn
    ),"""
        + ",".join(
            _ORACLE_ITER.format(t=t, p=t - 1) for t in range(1, _ITERS + 1)
        )
        + f"""
    , ranked AS (
      SELECT r.node AS part, r.rank AS pagerank, d.deg AS degree,
             ROW_NUMBER() OVER (ORDER BY r.rank DESC, r.node) AS rk
      FROM r{_ITERS} r JOIN deg d ON r.node = d.src
    )
    SELECT part, pagerank, degree, rk FROM ranked WHERE rk <= {_TOP_N}
    """
    ),
    tags=("graph", "iterative", "pagerank", "business"),
    bench=True,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOP_N} parts by PageRank on the co-purchase graph after
    {_ITERS} damped power iterations (d=0.85, uniform init 1/N).

    The graph is symmetric so every node has in- and out-edges (no dangling
    mass). N arrives by broadcast of a 1-row aggregate, never a driver
    collect. Each iteration joins the current rank vector onto the edge
    list by source node and re-aggregates by destination — at 100 TB both
    sides hash-partition on the node key and AQE handles hub skew; the
    rank vector (|V| rows) is the only state carried between iterations.
    """
    # Everything STATIC across power iterations is materialized once:
    # without checkpoints each iteration re-derives the order-key self-join
    # (50 exchanges at sf0.001 for 3 iterations, measured). The quantized
    # per-source contribution floor(rank/deg · Q) is hoisted INTO the
    # |V|-row rank vector (one divide per NODE), so the edge list stays
    # the bare (src, dst) pairs — the per-edge work in the iteration join
    # is a broadcast-hash lookup emitting a precomputed long.
    # Bit-identical to the oracle: rank/deg is constant across a source's
    # edges, so flooring per node equals flooring per edge.
    #
    # Round 14 (driver/job-count optimization, guide §5/§7.3): |V| was
    # already collected as the regime scalar, so 1/N and 0.15/N enter the
    # plan as LITERALS — the former 1-row `n` localCheckpoint (an eager
    # physical planning on the driver) and its per-iteration
    # crossJoin(broadcast(n)) are gone (3 plan joins + 2 jobs fewer). The
    # rank state carries `deg` along, which removes the separate
    # ranks⋈deg join per iteration AND the final deg re-join for the
    # degree column: each iteration is exactly ONE edges⋈rank-vector
    # join + one partial-aggregated contribution shuffle — the
    # irreducible PageRank round. Literal-vs-column arithmetic is the
    # same double division, so ranks stay bit-identical (driver_sim +
    # full-registry parity verified).
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    # The rank vector is |V| rows (parts, not lineitems). Below the
    # broadcast node limit it broadcasts into the per-iteration join so
    # the edge list NEVER shuffles: each iteration is then map-side join +
    # one partial-aggregated shuffle of contributions. (AQE can't pick
    # this itself: the vector sits behind a lazy localCheckpoint lineage
    # whose size estimate exceeds the threshold.) Past the limit —
    # billions of nodes, where a |V|-row broadcast OOMs executors — the
    # SAME loop runs as co-partitioned shuffle joins: the edge list is
    # hash-partitioned on src once (checkpointed), so each iteration
    # exchanges only the node-sized rank vector, never the edges. The
    # regime costs one O(1) driver scalar (|V| from a 1-row agg — the
    # k-core k-derivation precedent); the same scalar feeds the literal
    # 1/N and 0.15/N terms.
    nv = int(deg.agg(F.count(F.lit(1)).alias("n")).first()["n"])
    use_bcast = nv <= _node_broadcast_limit(spark)
    if not use_bcast:
        edges = edges.repartition(F.col("src")).localCheckpoint(eager=False)

    def _nb(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if use_bcast else df

    # state: (node, rank, deg) — deg rides along so no per-iteration deg
    # join and no final degree re-join. Guard nv=0 (empty graph): state is
    # empty anyway; max(nv, 1) only keeps the literal division defined.
    state = deg.select(
        F.col("src").alias("node"),
        (F.lit(1.0) / F.lit(max(nv, 1))).alias("rank"),
        "deg",
    )
    for _ in range(_ITERS):
        rv = state.select(
            "node",
            F.floor(F.col("rank") / F.col("deg") * F.lit(_QUANT))
            .cast("long")
            .alias("qsrc"),
        )
        contrib = edges.join(
            _nb(rv), edges["src"] == rv["node"]
        ).select("dst", F.col("qsrc").alias("q"))
        sums = contrib.groupBy("dst").agg(F.sum("q").alias("sq"))
        state = sums.join(_nb(deg), sums["dst"] == deg["src"]).select(
            F.col("dst").alias("node"),
            (
                F.lit(0.15) / F.lit(max(nv, 1))
                + F.lit(0.85) * (F.col("sq").cast("double") / F.lit(_QUANT))
            ).alias("rank"),
            "deg",
        )

    # Global top-N via orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps, no single-partition sort of the |V|-row rank vector); the rank
    # column is then a window over only the surviving N rows.
    top = (
        state.select(
            F.col("node").alias("part"),
            F.col("rank").alias("pagerank"),
            F.col("deg").alias("degree"),
        )
        .orderBy(F.col("pagerank").desc(), F.col("part"))
        .limit(_TOP_N)
    )
    w = Window.orderBy(F.col("pagerank").desc(), F.col("part"))
    return top.withColumn("rk", F.row_number().over(w))


@query(
    "graph_triangle_count",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), edges AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
    ), und AS (
      SELECT src AS a, dst AS b FROM edges WHERE src < dst
    ), deg AS (
      SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), ori AS (
      SELECT
        CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
             THEN u.a ELSE u.b END AS u,
        CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
             THEN u.b ELSE u.a END AS v
      FROM und u
      JOIN deg da ON u.a = da.node
      JOIN deg db ON u.b = db.node
    ), ori2 AS (
      SELECT o.u, o.v, dv.deg AS vdeg FROM ori o JOIN deg dv ON o.v = dv.node
    ), wedge AS (
      SELECT o1.v AS x, o2.v AS y
      FROM ori2 o1 JOIN ori2 o2
        ON o1.u = o2.u
       AND (o1.vdeg < o2.vdeg OR (o1.vdeg = o2.vdeg AND o1.v < o2.v))
    ), tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM wedge w JOIN ori o3 ON w.x = o3.u AND w.y = o3.v
    ), tot AS (
      SELECT
        COUNT(*) AS n_nodes,
        SUM(deg * (deg - 1) // 2) AS n_open_wedges
      FROM deg
    ), ne AS (
      SELECT COUNT(*) AS n_edges FROM und
    )
    SELECT
      CAST(tot.n_nodes AS BIGINT) AS n_nodes,
      CAST(ne.n_edges AS BIGINT) AS n_edges,
      CAST(tot.n_open_wedges AS BIGINT) AS n_open_wedges,
      CAST(tri.n_triangles AS BIGINT) AS n_triangles,
      3.0 * tri.n_triangles / tot.n_open_wedges AS clustering_coeff
    FROM tot CROSS JOIN ne CROSS JOIN tri
    """,
    tags=("graph", "triangles", "business"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    co-purchase graph via DEGREE-ORDERED ORIENTATION — the scalable
    formulation: orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one, enumerate wedges only between ORIENTED
    out-neighbors, and close each wedge against the oriented edge set.
    Each triangle is counted exactly once (at its minimum endpoint in the
    orientation order), and out-degrees are bounded by O(√m), so wedge
    volume is O(m^1.5) worst-case instead of Σ deg² — the difference
    between hub nodes exploding the join and not.

    All three joins are equi-joins on node / (v,w) pair keys; the final
    clustering coefficient 3·triangles / open-wedges divides two exact
    integers. DuckDB runs the identical orientation, so counts match
    bit-for-bit.
    """
    # Materialize the edge list once: und/deg/orientation/wedge/closure all
    # consume it, and without the checkpoint Catalyst re-derives the
    # order-key self-join for each consumer (~7 recomputations, 60
    # exchanges at sf0.001 — measured). The edge list is the graph, far
    # smaller than the lineitem input that generates it.
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    und = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    da = deg.alias("da")
    db = deg.alias("db")
    a_first = (F.col("da.deg") < F.col("db.deg")) | (
        (F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    dv = deg.alias("dv")
    # Oriented edges are consumed three times (two wedge sides + closure):
    # materialize them too — they are half the symmetric edge count.
    ori2 = (
        ori.join(dv, F.col("v") == F.col("dv.node"))
        .select("u", "v", F.col("dv.deg").alias("vdeg"))
        .localCheckpoint(eager=False)
    )
    o1 = ori2.alias("o1")
    # Both wedge sides and the closure set are EDGE-sized — they grow with
    # the corpus, so they must never broadcast (unlike the node-sized deg
    # joins above, which the size-adaptive broadcast discipline covers).
    # Catalyst's size estimate for a checkpointed ExistingRDD undershoots
    # and picked BroadcastHashJoin here — at sf0.1 in a default-1g-driver
    # session the broadcast build itself OOMs (found by the round-11
    # full-registry sf0.1 sweep). hint("merge") pins the shuffled
    # sort-merge join a 100 TB edge list needs.
    o2 = ori2.alias("o2").hint("merge")
    wedge = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            (F.col("o1.vdeg") < F.col("o2.vdeg"))
            | (
                (F.col("o1.vdeg") == F.col("o2.vdeg"))
                & (F.col("o1.v") < F.col("o2.v"))
            )
        ),
    ).select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
    closure = ori2.select("u", "v").hint("merge")
    tri = wedge.join(
        closure, (F.col("x") == F.col("u")) & (F.col("y") == F.col("v"))
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    tot = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_open_wedges"),
    )
    ne = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tot.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_open_wedges").cast("long").alias("n_open_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            (
                F.lit(3.0)
                * F.col("n_triangles")
                / F.col("n_open_wedges")
            ).alias("clustering_coeff"),
        )
    )


_REACH_SQL = """
WITH RECURSIVE walk(node, depth) AS (
  SELECT CAST(MIN(l_partkey) AS BIGINT) AS node, 0 AS depth FROM {lineitem}
  UNION ALL
  SELECT e.dst AS node, w.depth + 1 AS depth
  FROM walk w
  JOIN (
    SELECT DISTINCT a.pk AS src, b.pk AS dst
    FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM {lineitem}) a
    JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM {lineitem}) b
      ON a.ok = b.ok AND a.pk <> b.pk
  ) e ON w.node = e.src
  WHERE w.depth < 2
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM (SELECT node, MIN(depth) AS depth FROM walk GROUP BY node)
GROUP BY depth
"""


@query(
    "sql_recursive_reachability",
    oracle=_REACH_SQL.format(lineitem="lineitem"),
    tags=("graph", "sql", "recursive-cte"),
)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) — bounded BFS over the
    co-purchase graph from the minimum part key: nodes reachable within 2
    hops, grouped by their MINIMUM hop distance. The SAME SQL text runs on
    Spark and DuckDB — the assertion is that Spark's recursion semantics
    (anchor + UNION ALL step, per-iteration join) agree with a reference
    engine's, the strongest dialect-parity check in the registry.

    Depth is bounded (< 2 in the step) because UNION ALL recursion
    enumerates PATHS, not nodes — the min-depth rollup restores node
    semantics. At scale, unbounded-depth traversals belong to the
    iterative DataFrame loop (dedup_connected_components, graph_pagerank)
    where each round is checkpointed; recursive SQL is the right tool for
    bounded multi-hop expansions (supply chains, n-hop features).
    """
    from biglake_iceberg_python_spark.sources.tables import load_table as _lt

    return spark.sql(_REACH_SQL, lineitem=_lt(spark, sf_dir, "lineitem"))



_RA_HUB_CAP = 256  # skip middles with deg > cap: contribution < 1e9/256


@query(
    "graph_resource_allocation",
    # MATERIALIZED: edges feeds und/deg/ez and ez self-joins — DuckDB's
    # CTE inlining otherwise re-derives the co-purchase self-join per
    # reference (measured: >30 s timeout at sf0.1 unhinted, 90 s hinted —
    # the residual is genuine wedge volume). Same no-semantic-change
    # rationale as graph_pagerank/graph_kcore above.
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), edges AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
    ), und AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM edges WHERE src < dst
    ), deg AS MATERIALIZED (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY src
    ), ez AS MATERIALIZED (
      SELECT e.src AS z, e.dst AS nbr, 1000000000 // d.deg AS contrib
      FROM edges e JOIN deg d ON e.src = d.node
      WHERE d.deg <= {_RA_HUB_CAP}
    ), wedge AS (
      SELECT e1.nbr AS u, e2.nbr AS v, e1.contrib
      FROM ez e1 JOIN ez e2 ON e1.z = e2.z AND e1.nbr < e2.nbr
    ), cand AS (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(contrib) AS BIGINT) AS ra_nano
      FROM wedge GROUP BY u, v
    )
    SELECT c.u, c.v, c.n_common, c.ra_nano
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM und WHERE und.a = c.u AND und.b = c.v
    )
    ORDER BY c.ra_nano DESC, c.u, c.v
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "business"),
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph by the Resource-Allocation
    index — for every NON-adjacent pair (u,v), RA(u,v) = Σ_{z∈N(u)∩N(v)}
    1/deg(z), the common-neighbor score that discounts promiscuous hubs
    (it beats raw common-neighbor count and rivals Adamic-Adar, whose
    1/ln deg weighting would need the banned transcendental — 1/deg is
    both the stronger published variant and exactly representable).

    Per-middle contributions are ``1e9 DIV deg(z)`` — exact truncating
    integer division on both engines — so candidate scores are int64 sums:
    bit-identical under any partitioning, no float accumulation anywhere.

    Scale shape: wedge enumeration at a middle z costs deg(z)², so unlike
    triangle counting it cannot be degree-oriented away (the score NEEDS
    every unordered neighbor pair of z exactly once). The scalable lever
    is the HUB CAP: middles with deg > 256 are excluded BEFORE the
    self-join (their per-pair contribution is < 1e9/256 nano — noise for
    ranking — while contributing the quadratically dominant wedge
    volume); the cap bounds the fan-out at |E|·cap instead of Σ deg² and
    is applied identically in the oracle, so it is semantics, not
    approximation drift. The self-join is a shuffled equi-join on z over
    the deg-filtered edge list; the candidate rollup shuffles on the
    (u,v) pair key with map-side combine; existing edges leave via a
    shuffled anti-join on the same pair key (und is edge-sized — it must
    never broadcast); top-20 is TakeOrderedAndProject — no global sort,
    nothing corpus-sized after the wedge rollup.
    """
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    und = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select(F.col("src").alias("node"), "deg")
    )
    ez = (
        edges.join(deg, F.col("src") == F.col("node"))
        .filter(F.col("deg") <= _RA_HUB_CAP)
        .select(
            F.col("src").alias("z"),
            F.col("dst").alias("nbr"),
            F.expr("1000000000 DIV deg").alias("contrib"),
        )
    )
    e1 = ez.alias("e1")
    # ez and und are EDGE-sized (they grow with the corpus): pin the
    # z-keyed wedge self-join and the (u,v)-keyed anti-join to shuffled
    # sort-merge joins. Catalyst's undershooting size estimate for the
    # checkpointed edge list picked BroadcastHashJoin for both — the
    # broadcast build OOMs a default-1g-driver session at sf0.1 (round-11
    # sf0.1 sweep finding) and is categorically wrong at 100 TB. The deg
    # join above stays adaptive: node-sized state is the size-adaptive
    # broadcast discipline's domain.
    e2 = ez.alias("e2").hint("merge")
    wedge = e1.join(
        e2,
        (F.col("e1.z") == F.col("e2.z")) & (F.col("e1.nbr") < F.col("e2.nbr")),
    ).select(
        F.col("e1.nbr").alias("u"),
        F.col("e2.nbr").alias("v"),
        F.col("e1.contrib").alias("contrib"),
    )
    cand = wedge.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("contrib").cast("long").alias("ra_nano"),
    )
    nonedge = cand.join(
        und.hint("merge"),
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )
    return nonedge.orderBy(F.col("ra_nano").desc(), "u", "v").limit(20)


_KCORE_ROUNDS = 4

# MATERIALIZED is load-bearing: every e{t} is referenced 4× (next round's
# degree agg + survivor join, and two stat subqueries), so without it
# DuckDB's CTE inlining re-expands the chain ~3×-per-round — ~81
# re-evaluations of the co-purchase self-join by round 4 (measured: >37
# CPU-minutes at sf0.1 vs 0.94 s materialized). It is DuckDB's evaluation
# strategy only and changes no semantics; the Spark side materializes e0
# once and each round's degree table, never an e{t} (graph_kcore).
_KCORE_PEEL = """
    d{t} AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e{p} GROUP BY src),
    s{t} AS MATERIALIZED (SELECT src FROM d{t} WHERE d >= (SELECT k FROM kk)),
    e{t} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{p} e
      JOIN s{t} a ON e.src = a.src
      JOIN s{t} b ON e.dst = b.src
    )"""

_KCORE_STAT = """
    SELECT {t} AS round,
           (SELECT k FROM kk) AS k,
           (SELECT COUNT(DISTINCT src) FROM e{t}) AS n_nodes,
           (SELECT COUNT(*) FROM e{t}) // 2 AS n_edges"""


_KCORE_SCHEMA = pa.schema(
    [(c, pa.int64()) for c in ("round", "k", "n_nodes", "n_edges")]
)


def _degrees(edges: DataFrame) -> DataFrame:
    """(src, d): the degree table of a symmetric edge list."""
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))


def _peel_degrees(e0: DataFrame, surv: DataFrame, broadcast: bool) -> DataFrame:
    """One k-core round: the degree table of e0 restricted to survivor
    endpoints, ``deg(e0 ⋉ surv(src) ⋉ surv(dst))``.

    The ONE survivor frame is joined twice under two aliases, so both
    sides plan the same (canonically equal) exchange: in the broadcast
    regime the second BroadcastExchange is a ReusedExchange — one
    broadcast job per round, where a renamed copy plans two."""
    s = F.broadcast(surv) if broadcast else surv
    return _degrees(
        e0.alias("e")
        .join(s.alias("a"), F.col("e.src") == F.col("a.src"), "left_semi")
        .join(s.alias("b"), F.col("e.dst") == F.col("b.src"), "left_semi")
    )


def _node_edge_totals(deg: DataFrame) -> tuple[int, int]:
    """(|V|, Σd) of a degree table in one small aggregate job."""
    row = deg.agg(F.count(F.lit(1)), F.coalesce(F.sum("d"), F.lit(0))).first()
    return int(row[0]), int(row[1])


@query(
    "graph_kcore",
    oracle=(
        """
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
    ), kk AS (
      SELECT (SELECT COUNT(*) FROM e0)
               // (SELECT COUNT(DISTINCT src) FROM e0) + 1 AS k
    ),"""
        + ",".join(
            _KCORE_PEEL.format(t=t, p=t - 1)
            for t in range(1, _KCORE_ROUNDS + 1)
        )
        + f"""
    SELECT CAST(round AS BIGINT) AS round, CAST(k AS BIGINT) AS k,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM ({" UNION ALL ".join(_KCORE_STAT.format(t=t) for t in range(_KCORE_ROUNDS + 1))})
    ORDER BY round
    """
    ),
    tags=("graph", "iterative", "kcore"),
    bench=True,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling — the degeneracy-ordering primitive behind
    spam-farm detection and dense-community extraction on web graphs:
    repeatedly delete nodes of degree < k and report how the graph
    collapses. k adapts to the graph (floor(avg degree) + 1 of the
    INITIAL graph) so the peel is non-trivial at every scale factor; four
    rounds are reported (fixed iteration count, the `graph_pagerank`
    discipline) and each round's surviving node and edge counts are the
    readout — exact integers, so the row hashes bit-for-bit against the
    oracle's identically-unrolled CTE chain.

    State between rounds is node-sized. The edge list e0 is materialized
    once (`localCheckpoint`); round t's degree table is
    ``deg(e0 ⋉ s_t(src) ⋉ s_t(dst))`` and only that |V|-row table is
    checkpointed. Exact because peeling only deletes: s_t ⊆ s_{t-1}, so
    e0 ∩ s_t² = e_{t-1} ∩ s_t² — the oracle's chained e_t. Every readout
    comes from the degree table: n_nodes is its row count (distinct src by
    construction), n_edges = Σd/2 (each undirected edge adds one d on each
    endpoint).

    Halting rule (Pregel's vote-to-halt): each computed round collects
    (count, Σd) in one small aggregate — round 0's is the k derivation.
    Σd_t = |e_t| and e_t ⊆ e_{t-1}, so Σd_t == Σd_{t-1} means
    e_t = e_{t-1}; then round t's degree table equals round t-1's, so
    s_{t+1} = s_t and e_{t+1} = e_t, and by induction every later round
    repeats round t. Once Σd_t is 0 or equals Σd_{t-1}, the remaining
    rows are copies of round t's and run no job. The five stat rows are
    returned as an Arrow-built local relation, so collecting the result
    runs no job either.

    Scale trade: every round re-reads the checkpointed e0 (one map-side
    semi-join pass over |E| rows plus a partial-aggregated node-sized
    exchange) instead of writing and re-reading a shrinking e_t. At
    100 TB round 1 dominates either way and is one pass over e0; a later
    round scans all of e0 where a chained peel would scan only e_{t-1},
    but no round writes an edge-sized checkpoint.
    """
    e0 = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _degrees(e0).localCheckpoint(eager=False)
    nv, sd = _node_edge_totals(deg)
    # Empty graph: no nodes → k is undefined (NULL), matching the
    # oracle's 0 // 0 = NULL; Σd_0 = 0 halts before any peel.
    k = sd // nv + 1 if nv else None
    # Past the broadcast node limit the survivor joins shuffle. e0 is not
    # pre-partitioned on src for them: under AQE a localCheckpoint reports
    # UnknownPartitioning, so every round would re-shuffle it regardless.
    broadcast = nv <= _node_broadcast_limit(spark)
    totals = [(nv, sd)]
    for _ in range(_KCORE_ROUNDS):
        # Halt once the graph is empty or the last round deleted nothing.
        if sd and (len(totals) == 1 or sd != totals[-2][1]):
            surv = deg.filter(F.col("d") >= k).select("src")
            deg = _peel_degrees(e0, surv, broadcast).localCheckpoint(eager=False)
            nv, sd = _node_edge_totals(deg)
        totals.append((nv, sd))
    return spark.createDataFrame(
        pa.table(
            {
                "round": list(range(len(totals))),
                "k": [k] * len(totals),
                "n_nodes": [n for n, _ in totals],
                "n_edges": [s // 2 for _, s in totals],
            },
            schema=_KCORE_SCHEMA,
        )
    )
