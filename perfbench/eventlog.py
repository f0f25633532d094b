"""Spark engine counters from an uncompressed event log.

Each job is placed by its submission time: in the gate whose time
window holds it (whatever job group it carries), and in the innermost
layer span open at that moment.  Stages and tasks follow their job.
"""

from __future__ import annotations

import bisect
import json

ENGINE_KEYS = (
    "jobs", "jobs_untagged", "stages", "stages_skipped", "tasks", "tasks_failed",
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def _zero() -> dict[str, float]:
    return {k: 0 for k in ENGINE_KEYS}


def read_events(path: str):
    with open(path) as fh:
        for line in fh:
            yield json.loads(line)


class EngineLog:
    """Jobs, stages and task metrics of one application's event log."""

    def __init__(self, path: str) -> None:
        self.jobs: list[dict] = []  # {id, t, group, stages}
        stage_job: dict[int, int] = {}
        self.stage_done: dict[int, dict] = {}
        for ev in read_events(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "t": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", ())),
                }
                self.jobs.append(job)
                for sid in job["stages"]:
                    stage_job.setdefault(sid, len(self.jobs) - 1)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                self.stage_done.setdefault(sid, _zero())
            elif kind == "SparkListenerTaskEnd":
                acc = self.stage_done.setdefault(ev["Stage ID"], _zero())
                acc["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    acc["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        # a stage is run (and counted) by the first job that lists it;
        # later jobs that list it again skip it
        self._job_stages: list[list[int]] = [[] for _ in self.jobs]
        self._job_skipped = [0] * len(self.jobs)
        for j, job in enumerate(self.jobs):
            for sid in job["stages"]:
                if stage_job.get(sid) == j and sid in self.stage_done:
                    self._job_stages[j].append(sid)
                else:
                    self._job_skipped[j] += 1

    def group_jobs(self, group: str, t0: float, t1: float) -> tuple[int, int]:
        """(all jobs tagged ``group``, those submitted within [t0, t1])."""
        tagged = [job["t"] for job in self.jobs if job["group"] == group]
        return len(tagged), sum(t0 <= t <= t1 for t in tagged)

    def job_counters(self, j: int) -> dict[str, float]:
        out = _zero()
        out["jobs"] = 1
        out["jobs_untagged"] = int(self.jobs[j]["group"] is None)
        out["stages"] = len(self._job_stages[j])
        out["stages_skipped"] = self._job_skipped[j]
        for sid in self._job_stages[j]:
            for k, v in self.stage_done[sid].items():
                out[k] += v
        return out


def attribute(log: EngineLog, windows: list[tuple[float, float, str]]):
    """Sum job counters per key.  ``windows`` are (start, end, key)
    intervals; a job goes to the last-starting window that holds its
    submission time (the innermost, for nested spans).  Jobs in no
    window are summed under None."""
    windows = sorted(windows)
    starts = [w[0] for w in windows]
    out: dict[str | None, dict[str, float]] = {}
    for j, job in enumerate(log.jobs):
        t = job["t"]
        key = None
        i = bisect.bisect_right(starts, t) - 1
        while i >= 0:
            lo, hi, k = windows[i]
            if lo <= t <= hi:
                key = k
                break
            i -= 1
        acc = out.setdefault(key, _zero())
        for k, v in log.job_counters(j).items():
            acc[k] += v
    return out
