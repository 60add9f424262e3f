"""Spark status-store reads and stage-to-layer attribution.

A traced pass runs under its own job group. Its jobs and stages are read
from ``sc._jsc.sc().statusStore()`` (which works with the UI off) into
plain dicts, and each stage is given the name of the layer it runs:

- ``plans.pipeline.scan``: reads the pages table and writes the salted
  input shuffle (one stage per branch of ``size_aware_repartition``);
- ``operators.extract``: reads that shuffle, runs the fused UDF and the
  Catalyst normalize, and writes the output-bucket shuffle;
- ``plans.pipeline.write``: reads the bucket shuffle and writes files;
- ``plans.pipeline.lineage``: every stage of a job that starts after the
  write job has ended (partition listing and the lineage aggregate);
- ``plans.pipeline.plan``: anything else before the write (the input
  schema read).

The rules read only stage metrics and job order, so they survive line
moves in the package; they assume ``run_extraction``'s default
``colocate="output"`` plan.
"""

from __future__ import annotations

import statistics

SCAN = "plans.pipeline.scan"
EXTRACT = "operators.extract"
WRITE = "plans.pipeline.write"
LINEAGE = "plans.pipeline.lineage"
PLAN = "plans.pipeline.plan"


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _epoch_s(date) -> float:
    return date.getTime() / 1000.0


def read_group(sc, group: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of one job group, as plain dicts; times in epoch s.
    Stages that never ran (AQE-skipped) are left out."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs, stage_ids = [], set()
    for j in _seq(store.jobsList(None)):
        if _opt(j.jobGroup()) != group:
            continue
        ids = [int(x) for x in _seq(j.stageIds())]
        stage_ids.update(ids)
        jobs.append(
            {
                "id": j.jobId(),
                "submit": _epoch_s(_opt(j.submissionTime())),
                "complete": _epoch_s(_opt(j.completionTime())),
                "stage_ids": ids,
            }
        )
    stages = []
    for sid in sorted(stage_ids):
        for s in _seq(store.stageData(sid, False, no_status, False, no_quantiles)):
            if not s.submissionTime().isDefined() or not s.completionTime().isDefined():
                continue
            durations = [
                _opt(t.duration(), 0)
                for t in _seq(store.taskList(sid, s.attemptId(), 1 << 30))
            ]
            stages.append(
                {
                    "id": sid,
                    "attempt": s.attemptId(),
                    "submit": _epoch_s(_opt(s.submissionTime())),
                    "complete": _epoch_s(_opt(s.completionTime())),
                    "tasks": s.numTasks(),
                    "task_ms": durations,
                    "input_bytes": s.inputBytes(),
                    "input_records": s.inputRecords(),
                    "output_bytes": s.outputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "gc_ms": s.jvmGcTime(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            )
    return sorted(jobs, key=lambda j: j["id"]), stages


def attribute(jobs: list[dict], stages: list[dict]) -> list[dict]:
    """One ``{"stage", "job", "layer"}`` row per stage, in stage order."""
    job_of = {}
    for j in jobs:
        for sid in j["stage_ids"]:
            job_of.setdefault(sid, j["id"])  # a stage belongs to its first job
    writes = [s for s in stages if s["output_bytes"] > 0]
    write_end = max(
        (j["complete"] for j in jobs if any(job_of.get(s["id"]) == j["id"] for s in writes)),
        default=float("inf"),
    )
    job_start = {j["id"]: j["submit"] for j in jobs}
    rows = []
    for s in sorted(stages, key=lambda s: s["id"]):
        job = job_of.get(s["id"])
        if job_start.get(job, 0.0) >= write_end:
            layer = LINEAGE
        elif s["output_bytes"] > 0:
            layer = WRITE
        elif s["shuffle_read_bytes"] > 0 and s["shuffle_write_bytes"] > 0:
            layer = EXTRACT
        elif s["input_records"] > 0 and s["shuffle_read_bytes"] == 0:
            layer = SCAN
        else:
            layer = PLAN
        rows.append({"stage": s["id"], "job": job, "layer": layer})
    return rows


def wall(stages: list[dict]) -> float:
    """First submission to last completion of ``stages``; 0 if none."""
    if not stages:
        return 0.0
    return max(s["complete"] for s in stages) - min(s["submit"] for s in stages)


def task_skew(stages: list[dict]) -> float:
    """max ÷ median task duration over ``stages``; 0 if no tasks."""
    ms = [t for s in stages for t in s["task_ms"]]
    med = statistics.median(ms) if ms else 0
    return max(ms) / med if med else 0.0
