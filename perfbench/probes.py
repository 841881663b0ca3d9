"""Spark-side readings taken from outside the engine: the status store's
record of the jobs a call ran, streaming progress ledgers and peak memory.

A traced call runs under its own job group (streaming queries tag their
jobs with their run id), so its work is the stages of exactly those jobs.
"""

from __future__ import annotations

import os
from datetime import datetime

from stats import stage_totals

PHASES = {  # durationMs key -> per-layer metric suffix
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


def settle(spark) -> None:
    """Wait until every event posted so far has reached the status store.
    Listener delivery is asynchronous, so a snapshot taken right after a
    job ends can miss its last tasks. (Traced runs also set
    ``spark.ui.liveUpdate.period=0`` so each task end is written at once.)"""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_records(spark, job_ids) -> list[dict]:
    """Status-store record of every distinct stage of ``job_ids`` (a stage
    shared by several jobs, as a reused shuffle, is read once)."""
    settle(spark)
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    sids = sorted({sid for j in job_ids for sid in (getattr(tracker.getJobInfo(j), "stageIds", None) or [])})
    out = []
    for sid in sids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage evicted from the store
            continue
        out.append({
            "tasks": sd.numCompleteTasks(), "failed_tasks": sd.numFailedTasks(),
            "run_ms": sd.executorRunTime(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.diskBytesSpilled(),
        })
    return out


def job_counts(spark, job_ids) -> dict[str, float]:
    """Jobs, stages that ran, tasks, task seconds, shuffle and spill bytes
    of ``job_ids``."""
    job_ids = list(job_ids)
    return stage_totals(len(job_ids), stage_records(spark, job_ids))


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every garbage collector in the Spark
    JVM (in local mode it hosts the executor too). A stage's own GC time
    counts only pauses that hit a running task, so the JVM-wide total is
    the one that can be diffed around a call."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def group_ids(spark, groups) -> list[int]:
    """Job ids of the given job groups: a registry query's own group plus
    the run ids of the streaming queries it started (a stream thread tags
    its jobs with the query's run id)."""
    settle(spark)
    tracker = spark.sparkContext.statusTracker()
    return [j for g in groups for j in tracker.getJobIdsForGroup(g)]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_record(p) -> dict:
    """One micro-batch from either a ``StreamingQueryProgress`` (the
    query's own ``recentProgress``) or a ``ProgressRecorder`` entry."""
    if isinstance(p, dict) and "duration_ms" in p:  # ProgressRecorder entry
        dur, rows, ts = p["duration_ms"], p["num_input_rows"], p["timestamp"]
        state = [(s["rows_total"], s["memory_bytes"]) for s in p["state"]]
    else:
        dur, rows, ts = p.durationMs, p.numInputRows, p.timestamp
        state = [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators]
    dur = {k: float(v) for k, v in (dur or {}).items()}
    start = _epoch(ts)
    return {
        "start": start,
        "end": start + dur.get("triggerExecution", 0.0) / 1000.0,
        "rows": int(rows),
        "phases": {m: dur.get(k, 0.0) for k, m in PHASES.items()},
        "state_rows": sum(r for r, _ in state),
        "state_bytes": sum(b for _, b in state),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)
