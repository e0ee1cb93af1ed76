#!/usr/bin/env python
"""Per-job/stage attribution for one or more registry queries (guide §1/§7).

Runs each named query with the Spark event log enabled, then parses the log
into a per-job timeline: job wall, idle gap before each job (driver-side work —
planning, checkpoint/commit I/O, broadcast builds), and per-stage task count /
total task time / max single-task time (parallelism + skew signal at a glance).

Usage:  python scripts/profile_query.py [--runs N] [--sf DIR] q1 [q2 ...]

Output is human-oriented stderr-style text on stdout; this is a measurement
harness, not part of the driver contract.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from biglake_iceberg_python_spark.plans.eventlog import (
    event_log_conf,
    stop_and_parse,
    summarize_window,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from biglake_iceberg_python_spark.plans.registry import load_all
    from biglake_iceberg_python_spark.session import build_session

    registry = load_all()
    log_dir = tempfile.mkdtemp(prefix="spark_eventlog_")
    spark = build_session("profile", extra_conf=event_log_conf(log_dir))
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    for name in args.names:
        registry[name].fn(spark, warm_dir).collect()
        if "streaming" in registry[name].tags:
            registry[name].fn(spark, args.sf).collect()

    marks = []  # (name, run, t0, t1)
    for name in args.names:
        for r in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"{name}#{r}")
            t0 = time.time()
            n = len(registry[name].fn(spark, args.sf).collect())
            t1 = time.time()
            marks.append((name, r, t0, t1))
            print(f"## {name} run {r}: {t1 - t0:.3f}s ({n} rows)")
        spark.sparkContext.setJobDescription(None)

    jobs = stop_and_parse(spark, log_dir)

    for name, r, t0, t1 in marks:
        s = summarize_window(jobs, t0, t1)
        print(f"\n=== {name} run {r}: wall {t1 - t0:.3f}s, "
              f"{s['n_jobs']} jobs ({s['job_wall']:.3f}s in jobs, "
              f"{s['gap']:.3f}s between/around) ===")
        for j, gap in zip(s["jobs"], s["gaps"]):
            print(f"  job {j['id']:>4} +{gap:6.3f}s gap, wall {j['wall']:6.3f}s  {j['desc'][:60]}")
            for st in j["stages"]:
                print(
                    f"       stage {st['sid']:>4} wall {st['wall']:6.3f}s "
                    f"tasks {st['n_tasks']:>3} sum {st['task_sum']:7.3f}s "
                    f"max {st['task_max']:6.3f}s  {st['name'][:50]}"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
