"""Spark-side readings for the traced run, taken through the public status
tracker and the application status store (the data behind the web UI).

Only the traced run calls these: job groups are set per call, and every
reading waits for the listener bus to drain first.
"""

from __future__ import annotations

EXEC_KEYS = ("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
_MB = 1024 * 1024


def drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc._jsc.clearJobGroup()
    else:
        sc.setJobGroup(group, group)


def group_exec(spark, group: str) -> dict[str, float]:
    """Jobs, completed stages and tasks, executor CPU/run/GC time, shuffle
    and spill of every job started under ``group``."""
    drain(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            sd = store.lastStageAttempt(int(sid))
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / _MB
    return out


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    query execution (forces physical planning, which the sink then reuses
    only in part — part of the traced run's overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def retained(spark) -> tuple[int, float]:
    """Persistent RDD count and their stored MB (memory + disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(r.memSize() + r.diskSize() for r in infos) / _MB
    return int(jsc.getPersistentRDDs().size()), mb
