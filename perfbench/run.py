#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload, one process.

    python3 perfbench/run.py --workload lakehouse_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness generates its input tables from
a fixed data seed (``datagen.py``), builds a ``build_session()`` session
with ``SPARK_GRAFT_CPUS`` set to the CPUs this process may use, and drives
the workload as one closed-loop client. A *pass* runs every op of the
workload once; before each op the harness clears Spark's cache and runs a
JVM GC, outside the op's time. The first pass in the fresh JVM is set-up;
then passes repeat for ``--seconds`` (at least the workload's minimum), and
results are checked once, outside the timed window.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, with hypervisor steal taken out of every time; with
``--trace 1`` the timed passes alternate untraced and traced and the
metrics are the per-layer ones (see ``README.md``). The line before it
holds diagnostics: host steal seconds, load average, the raw wall times,
every pass time and every failed check.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; spans of a traced run are written to
``.perfbench_work/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import probes  # noqa: E402
import workloads as wl  # noqa: E402

TICKS_START = probes.cpu_ticks()

# Per workload: scale factor of the generated tables, and the fewest timed
# passes a run makes. With isolation, a pass takes ~4 s of wall for
# lakehouse_cycle and ~9 s for iterative_pipelines on 4 vCPUs, so with
# --seconds 10 both make exactly their minimum and every run's timed passes
# sit at the same point of the JIT warm-up curve.
WORKLOADS = {
    "lakehouse_cycle": {"sf": 0.01, "min_passes": 3},
    "iterative_pipelines": {"sf": 0.01, "min_passes": 2},
}
# No new pass starts after this many seconds; the watchdog kills the run
# (exit 3, no result line) at DEADLINE_S.
SOFT_LIMIT_S = 140.0
DEADLINE_S = 175.0

END_TO_END_UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. Each workload reports all of
    them; a layer the workload does not run reports 0."""
    units = {"session.build_s": "s", "sources.load_table_s": "s"}
    for op in wl.ITERATIVE_OPS:
        units.update(
            {
                f"{op}.build_s": "s",
                f"{op}.exec_s": "s",
                f"{op}.jobs": "count",
                f"{op}.tasks": "count",
            }
        )
    for op in wl.STREAM_OPS:
        units[f"{op}.batches"] = "count"
        for phase in wl.STREAM_PHASES:
            units[f"{op}.{phase}_ms"] = "ms"
    for call in wl.CATALOG_CALLS:
        units[f"catalog.{call}_s"] = "s"
    for call in wl.SNAPSHOT_CALLS:
        units[f"snapshots.{call}_s"] = "s"
        units[f"snapshots.{call}.jobs"] = "count"
    units.update(
        {
            "snapshots.files_written": "count",
            "snapshots.bytes_written": "bytes",
            "lakehouse.write_amp": "ratio",
            "memory.peak_rss_mb": "MB",
            "jvm.gc_s": "s",
            "jvm.cpu_s": "s",
            "python.cpu_s": "s",
            "trace.pass_s": "s",
            "trace.untraced_s": "s",
            "trace.coverage": "ratio",
            "trace.overhead_s": "s",
        }
    )
    return units


@dataclass
class Context:
    """What ops and checks need from the harness."""

    spark: object
    tracer: object
    data_dir: str
    work_dir: str
    warehouse_dir: str
    tmp_dir: str


@dataclass
class PassResult:
    op_s: list[tuple[str, float]]
    wall_s: float
    traced: bool
    jvm_cpu_s: float = 0.0
    python_cpu_s: float = 0.0
    spans: list[dict] = field(default_factory=list)
    figures: dict[str, float] = field(default_factory=dict)
    share: float = 1.0
    steal_s: float = 0.0
    peak_rss: int = 0

    @property
    def pass_s(self) -> float:
        return sum(s for _, s in self.op_s)


class Harness:
    def __init__(self, args, work_dir: str, out_dir: str):
        self.args = args
        self.sf = args.sf if args.sf is not None else WORKLOADS[args.workload]["sf"]
        self.min_passes = WORKLOADS[args.workload]["min_passes"]
        if args.trace:
            # Untraced, traced, untraced: the traced pass is bracketed.
            self.min_passes = max(3, self.min_passes)
        self.work_dir = work_dir
        self.out_dir = out_dir
        self.run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.jvm_pid: int | None = None
        self.jvm_tree: set[int] = set()
        self.sampler = None

    # -- process lifetime --

    def start_session(self) -> None:
        from pyspark import SparkContext

        from biglake_iceberg_python_spark.session import build_session

        self.warehouse_dir = os.path.join(self.work_dir, "warehouse")
        t0 = self.t_session0 = time.perf_counter()
        self.spark = build_session(
            "perfbench",
            warehouse_dir=self.warehouse_dir,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_dir}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.sampler = probes.RssSampler(self.jvm_pid).start()

    def stop_session(self) -> None:
        """Stop Spark, close the JVM and wait until it and every process
        below it have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        if self.sampler is not None:
            self.sampler.stop()
        self.jvm_tree |= set(probes.descendants(self.jvm_pid))
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            _wait_gone(self.jvm_tree, timeout=15)
            self.spark = None

    def kill_jvm(self) -> None:
        for pid in [self.jvm_pid, *self.jvm_tree, *probes.descendants(self.jvm_pid or -1)]:
            if pid:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass

    # -- one run --

    def run(self) -> dict:
        from biglake_iceberg_python_spark.sources.tables import TABLES, load_table
        from spans import Tracer

        args = self.args
        self.tmp_dir = os.environ["TMPDIR"]
        t0 = time.perf_counter()
        data_dir = datagen.write_tables(os.path.join(self.work_dir, "data"), self.sf)
        self.datagen_s = time.perf_counter() - t0
        self.start_session()
        tracer = Tracer(self.spark, self.run_id)
        self.ctx = Context(
            self.spark, tracer, data_dir, self.work_dir, self.warehouse_dir, self.tmp_dir
        )
        t0 = time.perf_counter()
        for name in TABLES:
            load_table(self.spark, data_dir, name)
        self.load_table_s = time.perf_counter() - t0

        if args.workload == "lakehouse_cycle":
            self.workload = wl.LakehouseCycle(self.ctx, args.seed)
        else:
            self.workload = wl.RegistryWorkload(self.ctx, wl.ITERATIVE_OPS, args.seed)
        self.views0 = self._temp_views()
        if args.trace:
            # Starts the py4j callback server outside any timed pass.
            tracer.enable()
            tracer.disable()

        first = self.run_pass(0, traced=False)
        setup_wall = time.perf_counter() - T_START
        setup_share = probes.available_share(TICKS_START, probes.cpu_ticks())

        timed: list[PassResult] = []
        t_measure = time.perf_counter()
        while len(timed) < self.min_passes or time.perf_counter() - t_measure < args.seconds:
            if timed and time.perf_counter() - T_START + timed[-1].wall_s > SOFT_LIMIT_S:
                break
            # Traced passes sit between untraced ones, so the warm-up
            # trend does not bias the tracing overhead.
            traced = bool(args.trace) and len(timed) % 2 == 1
            timed.append(self.run_pass(1 + len(timed), traced))
        measure_s = time.perf_counter() - t_measure

        checks = self.workload.check(args.corrupt)
        for c in checks:
            if not c.ok:
                self.failures.append(f"{c.name}: {c.detail}")
        self.stop_session()
        if args.trace:
            tracer.write(os.path.join(self.out_dir, f"spans-{self.run_id}.jsonl"))

        diagnostics = {
            "workload": args.workload,
            "seed": args.seed,
            "sf": self.sf,
            "trace": args.trace,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "host_steal_s": round(probes.steal_seconds(TICKS_START, probes.cpu_ticks()), 3),
            "loadavg_1m": probes.loadavg_1m(),
            "failed_ops_ratio": len(self.failures) / max(1, self.attempted),
            "failures": self.failures[:20],
            "setup_parts_s": {
                "imports_and_datagen": round(self.t_session0 - T_START, 3),
                "datagen": round(self.datagen_s, 3),
                "session_build": round(self.session_build_s, 3),
                "load_tables": round(self.load_table_s, 3),
                "first_pass_wall": round(first.wall_s, 3),
            },
            "setup_wall_s": round(setup_wall, 4),
            "setup_share": round(setup_share, 4),
            "first_pass_wall_s": round(first.pass_s, 4),
            "first_pass_share": round(first.share, 4),
            "pass_wall_s": round(sum(_op_medians(timed).values()), 4),
            "timed_passes": [round(p.pass_s, 4) for p in timed],
            "timed_op_s": [[round(x, 3) for _, x in p.op_s] for p in timed],
            "timed_shares": [round(p.share, 4) for p in timed],
            "timed_walls": [round(p.wall_s, 3) for p in timed],
            "peak_rss_mb": round(self.sampler.overall / (1 << 20), 1),
            "timed_peak_rss_mb": [round(p.peak_rss / (1 << 20), 1) for p in timed],
            "timed_cpu_s": [round(p.jvm_cpu_s + p.python_cpu_s, 2) for p in timed],
            "timed_steal_s": [round(p.steal_s, 2) for p in timed],
            "traced": [p.traced for p in timed],
            "measure_s": round(measure_s, 2),
            "op_median_s": {k: round(v, 4) for k, v in _op_medians(timed).items()},
            "run_wall_s": round(time.perf_counter() - T_START, 2),
        }
        if args.trace:
            metrics = self.per_layer(timed)
        else:
            values = {
                "setup_s": setup_wall * setup_share,
                "first_pass_s": first.pass_s * first.share,
                "pass_s": sum(_op_medians(timed, steal_free=True).values()),
            }
            metrics = {
                k: {"value": round(v, 6), "unit": END_TO_END_UNITS[k]}
                for k, v in values.items()
            }
        return {
            "diagnostics": diagnostics,
            "result": {
                "correct": not self.failures,
                "attempted": self.attempted,
                "failed": len(self.failures),
                "metrics": metrics,
            },
        }

    def _temp_views(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables() if t.isTemporary}

    def run_pass(self, pass_no: int, traced: bool) -> PassResult:
        spark, tracer = self.spark, self.ctx.tracer
        tracer.pass_no = pass_no
        if traced:
            tracer.enable()
        else:
            tracer.disable()
        n_spans = len(tracer.spans)
        cpu0 = self._cpu()
        ticks0 = probes.cpu_ticks()
        self.sampler.reset()
        op_s: list[tuple[str, float]] = []
        t_pass = time.perf_counter()
        with tracer.span("pass"):
            for op in self.workload.ops():
                if op.isolate:
                    with tracer.span("isolate"):
                        spark.catalog.clearCache()
                        spark.sparkContext._jvm.System.gc()
                tmp0 = set(os.listdir(self.tmp_dir)) if op.streaming else None
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(op.layer, counters=True, streaming=op.streaming):
                        op.fn()
                except Exception as exc:  # one failed op must not end the run
                    traceback.print_exc(file=sys.stderr)
                    self.failures.append(f"pass {pass_no} {op.name}: {type(exc).__name__}: {exc}"[:300])
                op_s.append((op.name, time.perf_counter() - t0))
                if op.after is not None:
                    with tracer.span("measure"):
                        op.after()
                if op.streaming:
                    with tracer.span("isolate"):
                        self._drop_stream_state(tmp0)
            with tracer.span("end_pass"):
                problems = self.workload.end_pass()
                left = wl.tree_bytes(self.warehouse_dir)
                if left != (0, 0):
                    problems.append(wl.Check("isolation:warehouse", False, f"{left} bytes/files left"))
                views = self._temp_views()
                if views != self.views0:
                    problems.append(wl.Check("isolation:temp_views", False, str(views - self.views0)))
        for c in problems:
            self.failures.append(f"pass {pass_no} {c.name}: {c.detail}")
        wall = time.perf_counter() - t_pass
        ticks1 = probes.cpu_ticks()
        cpu1 = self._cpu()
        return PassResult(
            op_s, wall, traced, cpu1[0] - cpu0[0], cpu1[1] - cpu0[1],
            tracer.spans[n_spans:], self.workload.figures(),
            probes.available_share(ticks0, ticks1),
            probes.steal_seconds(ticks0, ticks1), self.sampler.peak,
        )

    def _drop_stream_state(self, tmp0: set[str]) -> None:
        """Drop the memory-sink views a stream op registered and the
        checkpoint dirs it created. The staged input chunks stay: the
        streaming layer caches them for the life of the process."""
        for name in self._temp_views() - self.views0:
            self.spark.catalog.dropTempView(name)
        for name in set(os.listdir(self.tmp_dir)) - tmp0:
            if name.startswith("stream_ckpt_"):
                shutil.rmtree(os.path.join(self.tmp_dir, name), ignore_errors=True)

    def _cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python CPU s: this process plus the PySpark workers)."""
        workers = probes.descendants(self.jvm_pid)
        self.jvm_tree |= set(workers)
        py = probes.cpu_seconds(os.getpid()) + sum(
            probes.cpu_seconds(p, children=True) for p in workers
        )
        return probes.cpu_seconds(self.jvm_pid), py

    # -- per-layer figures --

    def per_layer(self, timed: list[PassResult]) -> dict:
        units = per_layer_units()
        traced = [p for p in timed if p.traced]
        untraced = [p for p in timed if not p.traced]
        per_pass = [self._layer_values(p) for p in traced]
        out = {}
        for name, unit in units.items():
            vals = [d.get(name, 0.0) for d in per_pass] or [0.0]
            out[name] = {"value": round(statistics.median(vals), 6), "unit": unit}
        out["memory.peak_rss_mb"]["value"] = round(
            statistics.median(p.peak_rss for p in timed) / (1 << 20), 3
        )
        out["session.build_s"]["value"] = round(self.session_build_s, 6)
        out["sources.load_table_s"]["value"] = round(self.load_table_s, 6)
        if traced and untraced:
            out["trace.overhead_s"]["value"] = round(
                statistics.median(p.pass_s for p in traced)
                - statistics.median(p.pass_s for p in untraced),
                6,
            )
        return out

    def _layer_values(self, p: PassResult) -> dict[str, float]:
        spans = p.spans
        root = next(s for s in spans if s["name"] == "pass")
        children = [s for s in spans if s["parent"] == root["id"]]
        dur = {s["id"]: s["end"] - s["start"] for s in spans}
        v: dict[str, float] = {
            **p.figures,
            "trace.pass_s": p.pass_s,
            "jvm.cpu_s": p.jvm_cpu_s,
            "python.cpu_s": p.python_cpu_s,
        }
        covered = sum(dur[s["id"]] for s in children)
        v["trace.untraced_s"] = max(0.0, p.wall_s - covered)
        v["trace.coverage"] = covered / p.wall_s
        registry_ops = set(wl.ITERATIVE_OPS)

        def add(key, x):
            v[key] = v.get(key, 0.0) + x

        for s in children:
            if "jobs" not in s:
                continue
            layer = s["name"]
            add("jvm.gc_s", s["gc_s"])
            if layer in registry_ops:
                for c in spans:
                    if c["parent"] == s["id"] and c["name"] in ("build", "exec"):
                        add(f"{layer}.{c['name']}_s", dur[c["id"]])
                add(f"{layer}.jobs", s["jobs"])
                add(f"{layer}.tasks", s["tasks"])
                for prog in s.get("progress", []):
                    add(f"{layer}.batches", 1)
                    for phase in wl.STREAM_PHASES:
                        add(f"{layer}.{phase}_ms", prog["durationMs"].get(phase, 0))
            elif layer.startswith("catalog."):
                add(f"{layer}_s", dur[s["id"]])
            elif layer.startswith("snapshots."):
                add(f"{layer}_s", dur[s["id"]])
                add(f"{layer}.jobs", s["jobs"])
        return v


def _op_medians(timed: list[PassResult], steal_free: bool = False) -> dict[str, float]:
    """Median time of each op over the given passes. Their sum is the
    steady pass time: a stall that hits one op in one pass moves it less
    than it moves the median of whole-pass sums. ``steal_free`` scales
    each op time by its pass's available CPU share first."""
    per: dict[str, list[float]] = {}
    for p in timed:
        for name, s in p.op_s:
            per.setdefault(name, []).append(s * p.share if steal_free else s)
    return {k: statistics.median(x) for k, x in per.items()}


def _wait_gone(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)


def _shutdown(harness: Harness) -> None:
    try:
        harness.stop_session()
    except Exception:
        harness.kill_jvm()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="mutation check: corrupt one result before checking it",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("biglake_iceberg_python_spark") is None:
        print(
            f"error: package biglake_iceberg_python_spark not found under {ROOT}",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    tmp_dir = os.path.join(work_dir, "tmp")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    os.makedirs(out_dir, exist_ok=True)
    # Keep every file the run, Spark and the Python workers write inside
    # the work dir.
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # JVMs keep their perf counters in /tmp/hsperfdata_<user> otherwise.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:+PerfDisableSharedMem"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    harness = Harness(args, work_dir, out_dir)

    def on_deadline():
        print(f"error: run exceeded {DEADLINE_S:.0f}s", file=sys.stderr)
        harness.kill_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        os._exit(3)

    def on_sigterm(signum, frame):
        raise SystemExit(128 + signum)

    watchdog = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), on_deadline)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        out = harness.run()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        _shutdown(harness)
        return 1
    except BaseException:  # SIGTERM or Ctrl-C: stop the JVM, then leave
        _shutdown(harness)
        raise
    finally:
        watchdog.cancel()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"diagnostics": out["diagnostics"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
