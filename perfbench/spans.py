"""Spans and per-span counters for the traced run.

A span is one call into a layer's public function, timed from the
benchmark's side: name, start, end, parent span, run id and pass number.
Spans stay in memory and are written out once, when the run ends.

Counters are attached to the spans that ask for them (``counters=True``):

* Spark jobs and tasks, via a job group set for the span's duration and
  read back from ``SparkContext.statusTracker()``;
* JVM GC time, from the ``GarbageCollectorMXBean``s;
* streaming micro-batches, from a ``StreamingQueryListener``: micro-batch
  jobs run on the stream's own thread and never carry the caller's job
  group, so their batch count and per-trigger ``durationMs`` phases come
  from the listener's progress events instead.

With tracing disabled ``span`` costs one attribute test and records nothing.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.progress.append(
                {"batch": p.batchId, "durationMs": dict(p.durationMs)}
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 10.0) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: self.terminated >= n, timeout)

    def drain(self) -> list[dict]:
        with self._cv:
            out, self.progress = self.progress, []
            return out


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.pass_no: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._listener: _ProgressListener | None = None
        self._gc_beans = None

    # -- switching --

    def enable(self) -> None:
        if self._listener is None:
            self._listener = _ProgressListener()
            self.spark.streams.addListener(self._listener)
        self.enabled = True

    def disable(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        self.enabled = False

    # -- spans --

    @contextmanager
    def span(self, name: str, counters: bool = False, streaming: bool = False):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "pass": self.pass_no,
        }
        self.spans.append(sp)
        if counters:
            group = f"perfbench-{self.run_id}-{sp['id']}"
            self.sc.setJobGroup(group, name)
            gc0 = self._gc_ms()
            terminated0 = self._listener.terminated
            self._listener.drain()
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if counters:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                sp["gc_s"] = (self._gc_ms() - gc0) / 1000.0
                sp["jobs"], sp["tasks"] = self._job_counts(group)
                if streaming:
                    self._listener.wait_terminated(terminated0 + 1)
                    sp["progress"] = self._listener.drain()

    def _job_counts(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job_id in jobs:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(jobs), tasks

    def _gc_ms(self) -> int:
        if self._gc_beans is None:
            mf = self.sc._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans)

    # -- output --

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
