"""Per-layer readings taken from outside the engine.

Spark's status store is read per job group right after a request, so the
numbers belong to that request alone (the store keeps only the last 1000
jobs, which makes global before/after deltas wrong on a long run).
"""

from __future__ import annotations

import time

_STAGE_FIELDS = (
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def group_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks, executor time, shuffle and spill of one job group."""
    jsc = sc._jsc.sc()
    # Task-end events reach the store through the listener bus; drain it so
    # the last stage of the request is complete before it is read.
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    out = dict.fromkeys(("jobs", "stages", "tasks") + _STAGE_FIELDS, 0)
    for jid in job_ids(sc, group):
        info = sc.statusTracker().getJobInfo(jid)
        out["jobs"] += 1
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage skipped by reuse has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def timed_noop(sc, df, group: str) -> float:
    """Wall seconds of running ``df`` into the noop sink under ``group``."""
    sc.setJobGroup(group, group)
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def floor_s(spark, group: str) -> float:
    """The engine's fixed per-action cost: a trivial range into noop."""
    return timed_noop(spark.sparkContext, spark.range(1000), group)


def cached_bytes(sc) -> int:
    """Memory plus disk bytes of every persisted or checkpointed RDD."""
    return sum(
        info.memSize() + info.diskSize() for info in sc._jsc.sc().getRDDStorageInfo()
    )
