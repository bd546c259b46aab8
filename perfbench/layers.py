"""Per-layer attribution for the traced run.

Everything here is measured from outside the package: the Spark event log
(uncompressed, non-rolling) gives job, stage and task metrics per job group;
the benchmark sets one job group per call, so each record maps back to the
query or request that caused it.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from harness import median

#: SQL metrics of the Python UDF operators (milliseconds / bytes)
_PY_TIME = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_start_ms",
}
_PY_SIZE = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


class GroupStats:
    __slots__ = (
        "jobs", "stages", "tasks", "deser_ms", "cpu_ns", "run_ms", "gc_ms",
        "peak_mem", "shuffle_write", "shuffle_read", "fetch_wait_ms", "spill",
        "py_run_ms", "py_start_ms", "py_sent", "py_returned", "last_job_end_ms",
    )

    def __init__(self):
        for s in self.__slots__:
            setattr(self, s, 0)

    def add(self, other: "GroupStats"):
        for s in self.__slots__:
            if s in ("peak_mem", "last_job_end_ms"):
                setattr(self, s, max(getattr(self, s), getattr(other, s)))
            else:
                setattr(self, s, getattr(self, s) + getattr(other, s))


def find_event_log(log_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*"))]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return sorted(paths, key=len)[0]


def read_event_log(log_dir: str, app_id: str) -> dict[str, GroupStats]:
    """Parse the application's event log, then delete it (the per-call
    figures live on in the run's result record)."""
    path = find_event_log(log_dir, app_id)
    try:
        return parse_event_log(path)
    finally:
        os.remove(path)


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Job group → aggregated scheduler, executor, shuffle and Python
    metrics. Jobs without a group land under ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[e["Job ID"]] = g
                groups[g].jobs += 1
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(e["Job ID"], "")
                st = groups[g]
                st.last_job_end_ms = max(st.last_job_end_ms, e.get("Completion Time", 0))
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                st = groups[stage_group.get(e.get("Stage ID"), "")]
                st.tasks += 1
                m = e.get("Task Metrics") or {}
                st.deser_ms += m.get("Executor Deserialize Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.run_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.peak_mem = max(st.peak_mem, m.get("Peak Execution Memory", 0))
                st.spill += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    slot = _PY_TIME.get(name) or _PY_SIZE.get(name)
                    if slot:
                        setattr(st, slot, getattr(st, slot) + int(acc.get("Update") or 0))
    return dict(groups)


def combine(groups: dict[str, GroupStats], names) -> GroupStats:
    out = GroupStats()
    for n in names:
        if n in groups:
            out.add(groups[n])
    return out


def engine_layers(total: GroupStats, per: float) -> dict[str, float]:
    """Scheduler, executor, shuffle and Python-boundary metrics, divided by
    ``per`` (passes for batch workloads, requests for serve_ingest)."""
    per = max(per, 1e-9)
    return {
        "sched.jobs": total.jobs / per,
        "sched.stages": total.stages / per,
        "sched.tasks": total.tasks / per,
        "sched.task_deserialize_s": total.deser_ms / 1e3 / per,
        "exec.cpu_s": total.cpu_ns / 1e9 / per,
        "exec.run_s": total.run_ms / 1e3 / per,
        "exec.gc_s": total.gc_ms / 1e3 / per,
        "exec.peak_mem_mb": total.peak_mem / 2**20,
        "shuffle.write_bytes": total.shuffle_write / per,
        "shuffle.read_bytes": total.shuffle_read / per,
        "shuffle.fetch_wait_s": total.fetch_wait_ms / 1e3 / per,
        "spill.disk_bytes": total.spill / per,
        "python.run_s": total.py_run_ms / 1e3 / per,
        "python.start_s": total.py_start_ms / 1e3 / per,
        "python.bytes_sent": total.py_sent / per,
        "python.bytes_returned": total.py_returned / per,
    }


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Medians over micro-batches of ``StreamingQuery.recentProgress``."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    d = lambda k: [p.get("durationMs", {}).get(k, 0) / 1e3 for p in batches]  # noqa: E731
    commit = [
        (p.get("durationMs", {}).get("walCommit", 0) + p.get("durationMs", {}).get("commitOffsets", 0)) / 1e3
        for p in batches
    ]
    return {
        "stream.batch_s": median(d("triggerExecution")),
        "stream.add_batch_s": median(d("addBatch")),
        "stream.get_batch_s": median(d("getBatch")),
        "stream.planning_s": median(d("queryPlanning")),
        "stream.commit_s": median(commit),
        "stream.rows_per_s": median([p.get("processedRowsPerSecond", 0.0) for p in batches]),
        "stream.batches": float(len(batches)),
    }
