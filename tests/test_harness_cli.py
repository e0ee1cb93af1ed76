"""Harness script smoke tests: each script runs as a fresh process, the
way it is used by hand, on a tiny input at sf0.001."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(sf_dir: str, script: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", script), *args],
        capture_output=True,
        text=True,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        cwd=REPO,
        timeout=600,
    )


def test_driver_sim_checks_named_queries(sf_dir):
    proc = _run(sf_dir, "driver_sim.py", "pricing_summary", "graph_kcore")
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-1] == "2/2 ok", proc.stdout


def test_dump_plans_writes_named_plans(sf_dir, tmp_path):
    proc = _run(
        sf_dir, "dump_plans.py", "pricing_summary", "graph_edges_builder",
        "--out", str(tmp_path), "--suffix", "after",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    for name in ("pricing_summary", "graph_edges_builder"):
        text = (tmp_path / f"{name}_after.txt").read_text()
        assert text.startswith("# "), text[:200]
        assert f"{sf_dir} (after)" in text.splitlines()[0]
        assert "== Physical Plan ==" in text
