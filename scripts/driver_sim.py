#!/usr/bin/env python
"""Exact driver simulation: a PLAIN SparkSession (none of our confs) with a
hostile non-UTC, non-hour-offset timezone, every registered query run at
sf0.01 and checked by plans.check's runner (the driver's compare logic).

This is the pre-snapshot gate the round-3 retro established: plans.check
uses build_session (our confs), so it can mask conf-dependent breakage —
this script can't. Usage:

    python scripts/driver_sim.py [names...]   # default: all queries
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from biglake_iceberg_python_spark.plans.check import (  # noqa: E402
    report,
    run_checks,
)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # Hostile-environment axes, each overridable so one script covers the
    # TZ sweep (default) AND the adversarial-partition-count sweep the
    # round-8 hardening added (e.g. SIM_CORES=3 SIM_PARTITIONS=3
    # SIM_TZ=Pacific/Chatham — few, uneven partitions shake out
    # partition-order/-count-dependent results the TZ axis can't).
    cores = os.environ.get("SPARK_GRAFT_SIM_CORES", "8")
    parts = os.environ.get("SPARK_GRAFT_SIM_PARTITIONS", cores)
    tz = os.environ.get("SPARK_GRAFT_SIM_TZ", "Asia/Kathmandu")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.default.parallelism", parts)
    )
    # Opt-in heap for ABOVE-driver-scale sweeps (e.g. the round-11 sf0.1
    # full-registry run): the grading driver compares at sf0.01, where the
    # plain session's default 1g heap is part of the fidelity being
    # simulated. 10x the data in the SAME 1g local JVM is a harness
    # artifact no real deployment has (cluster heap scales with data) —
    # the graph family's two edge-sized checkpoints + 348 accumulated
    # query states legitimately exceed it. Leave unset for driver parity.
    mem = os.environ.get("SPARK_GRAFT_SIM_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    results = run_checks(spark, sf_dir, sys.argv[1:] or None)
    return 0 if report(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
