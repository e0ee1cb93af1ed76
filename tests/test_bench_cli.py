"""Bench CLI contract smoke test — the round-2 incident gate, end-to-end.

Runs ``bench.py`` exactly as the grading driver does (fresh process, its
own SparkSession) on a tiny query subset at sf0.001 and asserts the full
contract: exit code 0, ONE JSON line on stdout with the required fields.
A broken registry, a crashing query, or malformed output fails here
instead of zeroing a round's artifacts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_cli_exits_zero_with_json_contract():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "join_inner",
         "pricing_summary"],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.strip().splitlines() if l.strip()]
    # Contract since round 10: the JSON line, then ONE compact headline
    # line (the driver stores only the tail of stdout, and the r9 artifact
    # lost metric/value to mid-JSON truncation — the trailing summary is
    # the truncation-proof copy).
    assert len(lines) == 2, f"expected JSON + TOTAL lines, got: {proc.stdout!r}"
    payload = json.loads(lines[0])
    assert payload["metric"] == "bench_total_wall"
    assert payload["unit"] == "sec"
    assert set(payload["queries"]) == {"join_inner", "pricing_summary"}
    assert payload["value"] > 0
    assert payload["sf"] == 0.001
    assert lines[1] == f"TOTAL {payload['value']}s n=2 sf=0.001 rc=0"


def test_bench_cli_rejects_unknown_query():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "no_such_query"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 2
    assert "no_such_query" in proc.stderr


def test_bench_queries_run_at_smoke_sf(spark, sf_dir):
    """Every bench-flagged batch query must match its oracle (or, without
    one, collect every row) at the sf0.001 smoke scale too — tiny inputs
    expose degeneracy (empty intermediate tables, .first() on nothing,
    vacuous thresholds) that sf0.01 sweeps never hit. Streaming queries are
    exercised at this sf by the bench warm-up already; this pins the batch
    set. Runs through the one oracle runner, so a wrong row or a raising
    output column fails here."""
    from biglake_iceberg_python_spark.plans.check import report, run_checks
    from biglake_iceberg_python_spark.plans.registry import load_all

    names = [
        name
        for name, spec in load_all().items()
        if spec.bench and not name.startswith("stream_")
    ]
    assert names
    results = run_checks(spark, sf_dir, names)
    assert report(results), {n: r for n, r in results.items() if not r["ok"]}
