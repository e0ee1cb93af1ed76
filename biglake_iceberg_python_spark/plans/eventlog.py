"""Spark event-log capture and parsing for per-job/stage attribution.

Callers: ``scripts/profile_query.py`` (interactive profiling) and
``bench.py``'s stage-summary stderr block, opt-in through
``SPARK_GRAFT_BENCH_EVENTLOG`` (at sf0.1 the 8-vs-32-core scaling ratios
are swamped by fixed per-query costs, so "parallelises at scale" needs
per-stage task counts and max single-task times to be auditable from the
artifact). Both build their session with :func:`event_log_conf` and read
the log back through :func:`stop_and_parse`.
"""

from __future__ import annotations

import glob
import json
import os


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs that write one plain (uncompressed, non-rolling)
    event log into ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stop_and_parse(spark, log_dir: str) -> list[dict]:
    """Stop ``spark``, which flushes its event log, and parse the newest
    log in ``log_dir`` (:func:`parse_event_log`); [] when there is none."""
    spark.stop()
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    return parse_event_log(logs[-1]) if logs else []


def parse_event_log(path: str) -> list[dict]:
    """Event log (file or Spark-4 rolling dir) → list of completed jobs:
    ``{id, desc, t0, wall, stages: [{sid, name, wall, n_tasks, task_sum,
    task_max}]}`` sorted by job id. Skipped stages (reused exchanges) are
    omitted from a job's stage list."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[float]] = {}
    if os.path.isdir(path):  # rolling event-log dir (eventlog_v2_*)
        parts = sorted(
            p
            for p in glob.glob(os.path.join(path, "*"))
            if os.path.basename(p).startswith("events_")
        )
    else:
        parts = [path]
    for part in parts:
        _parse_one(part, jobs, stages, tasks)
    out = []
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t1" not in j:
            continue
        st = []
        for sid in sorted(j["stages"]):
            if sid not in stages:
                continue
            s = stages[sid]
            ts = tasks.get(sid, [])
            st.append(
                {
                    "sid": sid,
                    "name": s["name"],
                    "wall": round(s["t1"] - s["t0"], 3),
                    "n_tasks": s["n_tasks"],
                    "task_sum": round(sum(ts), 3),
                    "task_max": round(max(ts), 3) if ts else 0.0,
                }
            )
        out.append(
            {
                "id": jid,
                "desc": j["desc"],
                "t0": j["t0"],
                "wall": round(j["t1"] - j["t0"], 3),
                "stages": st,
            }
        )
    return out


def _parse_one(path: str, jobs: dict, stages: dict, tasks: dict) -> None:
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"] / 1000.0,
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si.get("Name", ""),
                    "n_tasks": si.get("Number of Tasks", 0),
                    "t0": si.get("Submission Time", 0) / 1000.0,
                    "t1": si.get("Completion Time", 0) / 1000.0,
                }
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                ti = ev.get("Task Info", {})
                dur = (
                    ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                ) / 1000.0
                tasks.setdefault(sid, []).append(dur)


def summarize_window(
    jobs: list[dict], t0: float, t1: float
) -> dict:
    """Aggregate the jobs whose submission falls in [t0, t1]: job wall,
    gap time, stage count, total tasks, and the single largest stage by
    task_sum (its n_tasks + task_max are the parallelism/skew readout).

    Job wall is the length of the UNION of the jobs' intervals, so
    concurrent jobs count once and gap is the window time no job covers.
    ``jobs`` lists the selected jobs by submission time and ``gaps[i]`` is
    the idle time just before ``jobs[i]`` (0 when it starts while an
    earlier job still runs)."""
    sel = sorted(
        (j for j in jobs if t0 - 0.05 <= j["t0"] <= t1 + 0.05),
        key=lambda j: (j["t0"], j["id"]),
    )
    busy, gaps, frontier = 0.0, [], t0
    for j in sel:
        end = j["t0"] + j["wall"]
        gaps.append(round(max(0.0, j["t0"] - frontier), 3))
        busy += max(0.0, end - max(j["t0"], frontier))
        frontier = max(frontier, end)
    all_stages = [s for j in sel for s in j["stages"]]
    top = max(all_stages, key=lambda s: s["task_sum"], default=None)
    return {
        "n_jobs": len(sel),
        "job_wall": round(busy, 3),
        "gap": round(max(0.0, (t1 - t0) - busy), 3),
        "n_stages": len(all_stages),
        "n_tasks": sum(s["n_tasks"] for s in all_stages),
        "top_stage": top,
        "jobs": sel,
        "gaps": gaps,
    }
