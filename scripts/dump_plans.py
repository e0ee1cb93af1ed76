#!/usr/bin/env python
"""Dump formatted physical plans. Run from the repo root:

    python scripts/dump_plans.py
        regenerates PLANS.md: the headline queries' plans with the
        scale-relevant properties called out;
    python scripts/dump_plans.py NAME... --out DIR [--suffix before]
        writes DIR/<NAME>_<suffix>.txt, one ``explain('formatted')`` per
        query (before/after evidence for an optimization). The name
        ``graph_edges_builder`` dumps the graph edge builder
        (``operators.graph._edges``) before any checkpoint truncates it.

Data comes from ``$SPARK_GRAFT_SF_DIR`` (default sf0.001).
"""

from __future__ import annotations

import argparse
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASES = {
    "pricing_summary": "Filter pushed to parquet (PushedFilters), 7-of-11 "
    "column pruning (ReadSchema), two-phase HashAggregate — one shuffle of "
    "6 groups regardless of input size.",
    "join_broadcast_star": "All three dimensions broadcast: the lineitem "
    "fact is never shuffled; the only exchange is the 25-group final agg.",
    "join_shipping_priority": "Filtered customer dim broadcast into the "
    "orders⋈lineitem shuffle join; global top-10 via TakeOrderedAndProject "
    "(per-partition heaps, no range-partitioned sort).",
    "join_asof": "As-of join with NO join operator: one hash exchange on "
    "user_id + an ordered window — candidate-pair explosion structurally "
    "impossible.",
    "window_topk_per_group": "WindowGroupLimit inserts per-partition top-k "
    "heaps BEFORE the shuffle sort — rank-filter never materializes full "
    "per-group sorts.",
    "dedup_minhash_lsh": "Signatures computed per-row in codegen (zero "
    "shuffles until the band-bucket equi-join); candidate volume bounded "
    "by band collisions, never O(n²).",
    "sim_bruteforce_topk": "Query side broadcast; candidate embeddings "
    "stream through codegen dot products; per-query top-k window over "
    "|Q|·k rows only.",
    "tpch_q18_large_volume": "HAVING subquery planned as aggregate-once → "
    "broadcast the tiny qualifying keyset → left-semi prune lineitem "
    "BEFORE the wide joins; top-100 via TakeOrderedAndProject.",
    "join_range_bucketed": "Interval-overlap join as equi-join on "
    "(user_id, time bucket) with exploded ≤2-bucket bands + residual "
    "filter — candidate volume O(adjacent buckets), no nested loop.",
    "sim_ann_ivf": "K-row centroid table broadcast; nearest-list argmin "
    "map-side; candidate generation equi-joins on list_id touching "
    "n_probe/K of the corpus per query.",
    "agg_sessionize_events": "Gap-based sessionization: both windows (lag, "
    "running flag-sum) and both rollups (session-, user-level) ride ONE "
    "exchange on user_id — grouping keys are prefixes of the window "
    "partitioning, so no second shuffle exists.",
    "pack_token_shards": "Corpus-wide exclusive prefix-sum WITHOUT a "
    "single-partition pass over the data: per-bucket windowed cumsum "
    "(partitioned) + windowed per-bucket totals (rows = bucket count, not "
    "doc count) broadcast back.",
    "funnel_conversion": "Ordered three-stage funnel: event_type filters "
    "pushed to the parquet scan (PushedFilters), every stage join/groupBy "
    "keys on user_id, and each already-aggregated stage table broadcasts "
    "into the next — the raw event set is never re-shuffled.",
    "ts_gap_fill_locf": "Dense-calendar gap fill: the grid comes from "
    "sequence()+explode over the one-row-per-user bounds table (map-side "
    "row generation, no driver calendar), and the LOCF ignore-nulls window "
    "shares the join's (user_id, day) clustering.",
    "pipeline_corpus_build": "Four corpus-build stages fused by Catalyst "
    "into one pipeline: map-side quality filter + fingerprint, one "
    "fingerprint shuffle for dedup, shuffle-free hash-bucket sampling, and "
    "the two-phase prefix-sum pack — no intermediate corpus ever "
    "materializes.",
    "curate_decontaminate": "Train/eval decontamination: the eval side "
    "collapses to a benchmark-sized DISTINCT shingle set that BROADCASTS "
    "into the corpus postings — one scan + explode + broadcast-hash-join, "
    "linear in corpus size; the training text itself is never shuffled "
    "for the overlap test.",
    "curate_incremental_ingest": "Incremental ingestion: arrivals dedup "
    "within-batch (window on the 32-hex fingerprint) and anti-join the "
    "historical fingerprint index on the same key — both exchanges carry "
    "hashes, never document bodies; the history side would be a bucketed "
    "index with zero movement on a real lakehouse.",
    "text_lm_perplexity": "Bigram-LM scoring: ONE visible corpus explode "
    "(the scoring instances); the model table is localCheckpoint-"
    "materialized type-level counts, re-read (Scan ExistingRDD) by prefix "
    "counts, vocab size, and the scoring join instead of three more corpus "
    "passes. Surprisal quantized to integer micro-nats pre-aggregation, so "
    "the per-doc NLL sum is exact int64.",
    "text_vocab_coverage": "OOV curve: the corpus contributes only the "
    "word-count shuffle inside the checkpoint build; the top-of-vocabulary "
    "head is a TakeOrderedAndProject (per-partition max(K)-row heaps — the "
    "Heaps-law-growing type table is never sorted through one partition) "
    "and the rank window runs over the bounded head only.",
    "curate_quality_weighted_sample": "Quality-weighted sampling: keep "
    "decision is bucket·n < 1e6·n_dist integer cross-multiplication in "
    "codegen over the scan — zero joins, zero RNG; the only exchange "
    "carries |sources| accounting rows.",
    "subquery_not_in_null": "NOT IN planned as null-aware broadcast hash "
    "anti joins (the trailing `true` on each BroadcastHashJoin): correct "
    "three-valued logic — a NULL in the build side vetoes every probe — "
    "without falling back to a BroadcastNestedLoopJoin.",
    "graph_pagerank": "Power iteration with the |V|-row rank vector "
    "broadcast into every round's join: the edge list NEVER re-shuffles; "
    "an iteration is one map-side broadcast join + one partial-aggregated "
    "contribution shuffle, and static relations (edges, degrees, N) are "
    "localCheckpoint-materialized once. The node-state join strategy is "
    "size-adaptive (`spark.graft.graph.broadcastNodeLimit`); the forced "
    "shuffle-regime plan is dumped as its own section below.",
    "text_chunk_sliding": "Sliding-window chunking with ZERO exchanges: "
    "tokenize, offset generation (sequence+posexplode), and the per-chunk "
    "slice are all map-side inside the scan stage — a 1→N expansion that "
    "runs at scan throughput and inherits the input partitioning.",
    "dedup_fuzzy_levenshtein": "Blocked edit-distance dedup: the "
    "double-bucket length-band emission turns the |Δwords|≤4 predicate "
    "into a pure EQUI-join on (lang, bucket) — the quadratic levenshtein "
    "DP evaluates only inside the join's generated code on candidate "
    "pairs, and no nested-loop operator appears at any scale.",
    "sim_matryoshka_rescore": "Two-stage MRL retrieval: the coarse 16-dim "
    "scorer streams the corpus past the broadcast query set (one "
    "BroadcastNestedLoopJoin, no candidate-side exchange); only the "
    "|Q|·30 shortlist crosses the shuffle for rescoring — full-dimension "
    "work is independent of corpus size.",
    "text_bm25_search": "BM25 with zero data-proportional shuffles: the "
    "1-row corpus-stats aggregate (N, Σdl, per-term df) broadcasts back "
    "over the scan, term frequencies are array-filter counts in codegen "
    "(no word explode), and the global top-k is TakeOrderedAndProject.",
    "ml_pca_gram": "Distributed PCA moments: each Arrow batch emits a "
    "fixed 2080-row integer partial (numpy GEMM), and the ONLY exchange "
    "merges partials by (i, j) in DECIMAL — shuffle volume is "
    "#batches × d², independent of corpus size.",
    "ts_ewma_decay": "Truncated EWMA as cover-set expansion: the 7× "
    "explode sits ABOVE the daily rollup aggregate, so the expansion is "
    "over user-days (≪ events) and integer-literal weights keep the "
    "weighted sums exact.",
    "dedup_substring_spans": "Distributed substring dedup: positional "
    "K-shingle fingerprints generate MAP-SIDE from the token array (no "
    "window, no self-join), one shuffle groups 32-hex fingerprints, "
    "positions join back on the same key, and the per-doc interval merge "
    "is a lag-gap window — shuffles carry hashes and integer positions, "
    "never text.",
    "events_peak_concurrency": "Sweep-line concurrency: sessions emit "
    "+1/−1 boundary rows, the global running sum counts live sessions — "
    "the O(sessions²) interval self-join never exists; the boundary "
    "window covers 2×sessions rows, not events.",
    "curate_incremental_ingest_bloom": "Bloom-prefiltered dedup: the "
    "history fingerprint set collapses to a broadcast bit array; "
    "bloom-negative arrivals (definitely new) never reach the join, and "
    "the possible-duplicate sliver joins a broadcast history side.",
}


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_files(spark, registry, sf_dir, names, out_dir, suffix) -> None:
    """One ``<out_dir>/<name>_<suffix>.txt`` per name: a header line, then
    the plan as ``df.explain('formatted')`` prints it."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name == "graph_edges_builder":
            from biglake_iceberg_python_spark.operators.graph import _edges

            df = _edges(spark, sf_dir)
            header = (
                f"# graph _edges(spark, sf_dir) pre-checkpoint — {sf_dir}"
                f" ({suffix})\n"
            )
        else:
            df = registry[name].fn(spark, sf_dir)
            header = (
                f"# {name} — explain('formatted') at {sf_dir} ({suffix})\n"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(header + _plan(df) + "\n")
        print("wrote", path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out", default=".")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from biglake_iceberg_python_spark.plans.registry import load_all
    from biglake_iceberg_python_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = build_session("dump-plans")
    registry = load_all()
    if args.names:
        dump_files(spark, registry, sf_dir, args.names, args.out, args.suffix)
        return 0

    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of the headline queries\n\n"
        "Generated by `scripts/dump_plans.py` (re-run after plan-affecting "
        "changes).\nEach section: why this plan scales, then the "
        "`explain('formatted')` output at sf0.001.\nPlan-shape invariants "
        "are enforced in `tests/test_plans.py`.\n"
        "BroadcastHashJoins on part/supplier/customer sides below are "
        "SIZE-chosen by Catalyst, not hinted: explicit `F.broadcast` is "
        "reserved for provably bounded sides (nation/region, one-row "
        "aggregates, codebooks), so at warehouse scale AQE flips these "
        "same joins to shuffle instead of OOMing on a forced broadcast "
        "(`test_growing_dims_flip_to_shuffle_when_broadcast_disabled`).\n"
    )
    def dump(name: str, commentary: str, title: str | None = None) -> None:
        plan = _plan(registry[name].fn(spark, sf_dir))
        out.write(
            f"\n## {title or name}\n\n{commentary}\n\n```\n{plan}\n```\n"
        )

    for name, commentary in SHOWCASES.items():
        dump(name, commentary)

    # The billions-of-nodes regime of the size-adaptive graph iteratives:
    # force the broadcast→shuffle flip via the conf (and suppress
    # Catalyst's own size-based re-broadcast, which would mask it at
    # sf0.001) and dump the SAME query's plan — the per-iteration
    # node-state joins become co-partitioned shuffle joins while the edge
    # list still exchanges only once (tests/test_plans.py pins the shape
    # and bit-identical results in both regimes).
    from biglake_iceberg_python_spark.operators.graph import (
        _BCAST_NODE_LIMIT_CONF,
    )

    spark.conf.set(_BCAST_NODE_LIMIT_CONF, "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dump(
            "graph_pagerank",
            "The SAME power iteration past the broadcast node limit "
            "(forced via `spark.graft.graph.broadcastNodeLimit=1`): the "
            "rank-vector join flips to a co-partitioned shuffle join — "
            "each round exchanges the node-sized vector, never the "
            "src-partitioned edge list — and results stay bit-identical "
            "to the broadcast regime.",
            title="graph_pagerank (forced shuffle regime)",
        )
    finally:
        spark.conf.unset(_BCAST_NODE_LIMIT_CONF)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    with open("PLANS.md", "w") as f:
        f.write(out.getvalue())
    print(f"wrote PLANS.md ({len(out.getvalue())} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
