"""What Spark reports about itself, read from outside the program.

Jobs and stages come from the driver's status store (the data behind the
Spark UI), parse/optimize/plan times from each DataFrame's
``QueryPlanningTracker``, epoch timings from ``StreamingQueryProgress``.
py4j cannot fill Scala default arguments, so every one is passed.
"""

from __future__ import annotations

import os
import statistics

PHASES = ("analysis", "optimization", "planning")
STAGE_FIELDS = (
    "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
)
EPOCH_FIELDS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def session_conf(tmp_dir: str) -> dict:
    """Conf that keeps every file Spark writes inside ``tmp_dir`` and keeps
    enough status-store history for one pass."""
    return {
        "spark.local.dir": os.path.join(tmp_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jobs(spark) -> list[tuple[int, float, float]]:
    """``(job_id, submitted, completed)`` in epoch seconds, finished jobs."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append((j.jobId(), sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    return out


def _stage_list(spark):
    sc = spark.sparkContext
    jvm = sc._jvm
    return sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )


def stage_keys(spark) -> set[tuple[int, int]]:
    stages = _stage_list(spark)
    return {(stages.apply(i).stageId(), stages.apply(i).attemptId()) for i in range(stages.size())}


def stage_totals(spark, before: set[tuple[int, int]]) -> dict:
    """Executor-side totals over the stages not in ``before`` (stages are
    matched by id, so eviction of older stages cannot skew the sum)."""
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    stages = _stage_list(spark)
    for i in range(stages.size()):
        s = stages.apply(i)
        if (s.stageId(), s.attemptId()) in before:
            continue
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tot["executor_run_s"] += s.executorRunTime() / 1e3
        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["jvm_gc_s"] += s.jvmGcTime() / 1e3
    return tot


def phases_ms(df) -> dict:
    """Analysis/optimization/planning time of an executed DataFrame."""
    tracked = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = tracked.get(name)
        out[name] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def session_debris(spark) -> tuple[int, int]:
    """``(mem_* temp views, persisted RDDs)`` left in the session."""
    views = sum(1 for t in spark.catalog.listTables() if t.name.startswith("mem_"))
    return views, spark.sparkContext._jsc.getPersistentRDDs().size()


def drop_debris(spark) -> None:
    """Release what a pass left in the session, so the next pass (and the
    teardown) starts clean."""
    for t in spark.catalog.listTables():
        if t.name.startswith("mem_"):
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(persistent.keySet()):
        persistent.get(rid).rdd().unpersist(False)


def epoch_summary(query) -> dict:
    """Per-epoch medians over the epochs that carried rows."""
    epochs = [p for p in query.recentProgress if p.numInputRows > 0]
    out = {"epochs": len(epochs)}
    out["rows_per_epoch"] = statistics.median(p.numInputRows for p in epochs) if epochs else 0
    for key, field in EPOCH_FIELDS.items():
        vals = [p.durationMs.get(field, 0) for p in epochs]
        out[key] = statistics.median(vals) if vals else 0
    return out
