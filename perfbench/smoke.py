#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/smoke.py

Runs every workload at sf 0.001 with ``--trace 0`` and ``--trace 1`` and
asserts that each run is correct and prints exactly the metrics
``BENCHMARK.json`` declares, each with its declared unit. Then, per
workload, a run with ``--corrupt`` (one result changed before it is
checked) must report ``correct: false`` with at least one failure: the
mutation check that shows a wrong result is counted. Last, the harness
must exit non-zero without a result line in a directory that holds only
``BENCHMARK.json`` and the benchmark's own files.

Takes about five minutes on four cores; exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return proc.returncode, result, proc.stderr[-2000:]


def _expect(cond: bool, msg: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures: list[str] = []
    common = ["--seed", "7", "--seconds", "1", "--sf", "0.001"]
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, res, err = _run(["--workload", w, "--trace", str(trace), *common])
            tag = f"{w} trace={trace}"
            _expect(code == 0 and res is not None, f"{tag}: exits 0 with a result", failures)
            if res is None:
                print(err, file=sys.stderr)
                continue
            _expect(
                set(res) == {"correct", "attempted", "failed", "metrics"},
                f"{tag}: result keys", failures,
            )
            _expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                    f"{tag}: correct, {res['attempted']} attempted", failures)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _expect(got == declared[trace], f"{tag}: every declared metric with its unit",
                    failures)
            _expect(
                all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                f"{tag}: numeric values", failures,
            )
        code, res, err = _run(["--workload", w, "--trace", "0", "--corrupt", *common])
        _expect(
            code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
            f"{w}: a corrupted result is caught", failures,
        )

    # Without the package the harness must fail fast and print no result.
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    w = bench["workloads"][0]["name"]
    code, res, _ = _run(["--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0"],
                        cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    _expect(code != 0 and res is None, "bare directory: non-zero exit, no result", failures)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
