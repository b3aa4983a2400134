"""Layer readers: what Spark's own stores say about one finished op.

Every reader runs after the op's ``collect`` returned, outside the op's
timed span. They reach through Spark's wrappers:

- the physical plan is an ``AdaptiveSparkPlanExec`` whose final plan is
  ``executedPlan()``, with ``*QueryStageExec`` nodes that hold the stage
  plan in ``plan()``; a walk over ``children()`` alone finds no Python node;
- Catalyst phase times live in a Scala map read with ``apply(k).durationMs()``;
- stage metrics come from the AppStatusStore through
  ``plans.metrics._stage_list``, attributed to an op by its job group.
"""

from __future__ import annotations

import time
from datetime import datetime

PHASES = ("analysis", "optimization", "planning")
PY_METRICS = {
    "pythonBootTime": "boot_s",
    "pythonInitTime": "init_s",
    "pythonTotalTime": "total_s",
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(plan) -> list:
    """Every physical node under ``plan``, through AQE and query stages."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(node)
        todo.extend(_seq(node.children()))
    return out


def _metric_value(metric) -> float:
    """SQL metric in seconds for timings, raw otherwise."""
    kind = metric.metricType()
    if kind == "nsTiming":
        return metric.value() / 1e9
    if kind == "timing":
        return metric.value() / 1e3
    return float(metric.value())


def python_nodes(df) -> list[dict]:
    """One record per Python-worker node (any node carrying
    ``pythonDataSent``) of the executed plan of ``df``: its class name and
    the five ``pythonXxx`` SQL metrics."""
    nodes = []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        metrics = node.metrics()
        if not metrics.contains("pythonDataSent"):
            continue
        rec = {"node": node.getClass().getSimpleName()}
        for key, name in PY_METRICS.items():
            rec[name] = _metric_value(metrics.apply(key)) if metrics.contains(key) else 0.0
        nodes.append(rec)
    return nodes


def catalyst_phases(df) -> dict[str, float]:
    """Milliseconds spent in each Catalyst phase for ``df``'s query."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0 for p in PHASES}


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


SETTLE_S = 5.0


def group_stages(spark, group: str) -> tuple[dict[int, list[int]], list[dict]]:
    """Stage ids per job, and stage records, of every job run under job
    group ``group``. Waits (up to ``SETTLE_S``) until the status store has
    recorded every job's end, so task metrics are final."""
    from input_data_pipeline_spark.plans.metrics import _stage_list

    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + SETTLE_S
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.01)
    jobs = {i.jobId: list(i.stageIds) for i in infos if i is not None}
    wanted = {s for ids in jobs.values() for s in ids}
    if not wanted:
        return jobs, []
    lo = min(wanted)
    stages = _stage_list(spark)
    out = []
    # stageList is ordered by stage id (newest first): walk only over the
    # stages at or above this op's lowest stage id
    n = stages.size()
    newest_first = n < 2 or stages.apply(0).stageId() >= stages.apply(n - 1).stageId()
    for k in range(n) if newest_first else range(n - 1, -1, -1):
        s = stages.apply(k)
        sid = s.stageId()
        if sid < lo:
            break
        if sid not in wanted or s.status().toString() == "SKIPPED":
            continue
        out.append({
            "stage_id": sid,
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "executor_run_s": s.executorRunTime() / 1e3,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "input_bytes": s.inputBytes(),
            "submit_ms": _opt_ms(s.submissionTime()),
            "complete_ms": _opt_ms(s.completionTime()),
        })
    return jobs, out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


STREAM_DURATIONS = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "latestOffset": "latest_offset_ms",
}


def stream_batches(query, after_batch: int) -> list[dict]:
    """``StreamingQueryProgress`` records of batches newer than
    ``after_batch`` that read input, as flat dicts."""
    out = []
    for p in query.recentProgress:
        if p.batchId <= after_batch or not p.numInputRows:
            continue
        started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        rec = {"batch_id": p.batchId, "input_rows": p.numInputRows, "started": started}
        for key, name in STREAM_DURATIONS.items():
            rec[name] = float(p.durationMs.get(key, 0))
        out.append(rec)
    return out
