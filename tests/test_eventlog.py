"""Event-log attribution: job wall is the union of job intervals."""

from __future__ import annotations

import json

from biglake_iceberg_python_spark.plans.eventlog import (
    parse_event_log,
    summarize_window,
)


def _job_events(jid: int, t0: float, t1: float) -> list[dict]:
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": int(t0 * 1000),
            "Stage Infos": [{"Stage ID": jid}],
            "Properties": {"spark.job.description": f"job {jid}"},
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": jid,
                "Name": f"stage {jid}",
                "Number of Tasks": 2,
                "Submission Time": int(t0 * 1000),
                "Completion Time": int(t1 * 1000),
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int(t1 * 1000)},
    ]


def test_overlapping_jobs_count_once_in_job_wall(tmp_path):
    """Jobs 0 [10.0, 11.0] and 1 [10.5, 12.0] overlap; job 2 [13.0, 13.5]
    is disjoint. Over the window [10.0, 14.0] the jobs cover 2.5 s (a sum
    of walls would say 3.0 s), leaving a 1.5 s gap; the idle time before
    each job is 0, 0 (job 1 starts while job 0 runs) and 1.0 s."""
    log = tmp_path / "events"
    events = _job_events(0, 10.0, 11.0) + _job_events(1, 10.5, 12.0)
    events += _job_events(2, 13.0, 13.5)
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    s = summarize_window(parse_event_log(str(log)), 10.0, 14.0)
    assert s["n_jobs"] == 3
    assert s["job_wall"] == 2.5
    assert s["gap"] == 1.5
    assert [j["id"] for j in s["jobs"]] == [0, 1, 2]
    assert s["gaps"] == [0.0, 0.0, 1.0]
    assert (s["n_stages"], s["n_tasks"]) == (3, 6)
