"""Fold a Spark event log into per-job-group work counts.

The benchmark tags each traced request or build step with
``setJobGroup``; this reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` and sums, per group, what its jobs did.
"""

from __future__ import annotations

import json
import os

FIELDS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "input_bytes", "executor_run_s",
)


def _zero() -> dict[str, float]:
    return {f: 0 for f in FIELDS}


def read_jobs(path: str) -> list[dict]:
    """One dict per job: id, group, submit_ms and its work counts."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time", 0),
                    **_zero(),
                    "jobs": 1,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return sorted(jobs.values(), key=lambda j: j["id"])


def by_group(jobs: list[dict]) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        acc = out.setdefault(j["group"], _zero())
        for f in FIELDS:
            acc[f] += j[f]
    return out


def by_build_stage(jobs: list[dict], commits: list[tuple[float, str]]) -> dict[str, dict]:
    """Attribute a build's jobs to its manifest stages: a job belongs
    to the first stage committed at or after its submission.
    ``commits`` are (epoch ms, stage name) in commit order."""
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        stage = next((s for t, s in commits if t >= j["submit_ms"]), None)
        if stage is None:
            continue
        acc = out.setdefault(stage, _zero())
        for f in FIELDS:
            acc[f] += j[f]
    return out


def find_log(log_dir: str) -> str:
    """The single finished event log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
