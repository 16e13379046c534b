"""Spark event-log reader: jobs by job group, task metrics by job.

The traced run enables ``spark.eventLog.enabled`` (uncompressed, not
rolled) and tags every span with its own job group, so each Spark job can
be attributed to the span that submitted it.
"""

from __future__ import annotations

import json
import os
import statistics


def load(log_dir: str) -> tuple[dict, list]:
    """Parse every event-log file under ``log_dir``.

    Returns ``(jobs, tasks)``: ``jobs`` maps ``(app, job_id)`` to its job
    group, submission/completion time (epoch ms) and result; ``tasks`` is one
    dict per finished task attempt, carrying the ``(app, job_id)`` that ran
    its stage.
    """
    jobs: dict = {}
    tasks: list = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        stage_job: dict = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    key = (name, e["Job ID"])
                    props = e.get("Properties") or {}
                    jobs[key] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"],
                        "end": None,
                        "result": None,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, key)
                elif kind == "SparkListenerJobEnd":
                    j = jobs[(name, e["Job ID"])]
                    j["end"] = e["Completion Time"]
                    j["result"] = e["Job Result"]["Result"]
                elif kind == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(e["Stage ID"]),
                        "ok": e["Task End Reason"]["Reason"] == "Success",
                        "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "cpu_s": (m.get("Executor CPU Time", 0)
                                  + m.get("Executor Deserialize CPU Time", 0)) / 1e9,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                    })
    return jobs, tasks


def summarize(tasks: list) -> dict:
    """Engine-level totals over a set of tasks."""
    durations = sorted(t["duration_s"] for t in tasks) or [0.0]
    return {
        "tasks": len(tasks),
        "failed_tasks": sum(not t["ok"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "executor_run_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "task_p50_s": statistics.median(durations),
        "task_max_s": durations[-1],
        "records_read": sum(t["records_read"] for t in tasks),
        "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / 2**20,
        "shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in tasks) / 2**20,
    }
