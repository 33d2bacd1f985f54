"""Spark event-log reader for the traced run.

The harness labels work with three local properties, which Spark copies into
every job's and stage's ``Properties``:

- ``spark.job.description``: the span (module function) being called;
- ``perfbench.iter``: which traced iteration the work belongs to;
- ``perfbench.phase``: ``plan`` while the library call is building its
  DataFrame (any job then is a hidden driver action), ``run`` while the
  harness materializes the call's output.

``summarize`` folds task-end events into per-(iteration, span) totals.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

DESC = "spark.job.description"
ITER = "perfbench.iter"
PHASE = "perfbench.phase"

# SQL metric every Python-worker operator (pandas/Arrow UDFs, applyInPandas,
# mapInPandas) reports; a stage that only reads such an operator's cached
# output lists the operator in its lineage but does not report the metric
PYTHON_METRIC = "data sent to Python workers"


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of one application, in write order.

    Spark 4 rolls event logs by default (``spark.eventLog.rolling.enabled``),
    and the session does not turn that off: the log is an ``eventlog_v2_*``
    directory of numbered ``events_<n>_*`` parts. Spark 3 writes one file.
    """
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = glob.glob(os.path.join(rolled, "events_*"))
        return sorted(parts, key=lambda p: int(
            os.path.basename(p).split("_")[1]))
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        return [single]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _span_totals() -> dict:
    return {"task_ms": 0, "gc_ms": 0, "shuffle_bytes": 0,
            "shuffle_records": 0, "spill_bytes": 0, "plan_jobs": 0,
            "python_stages": 0}


def summarize(events) -> dict:
    """{iteration: {"spans": {span: totals}, "unlabelled_task_ms": ...,
    "task_ms": ...}} over every job that carries ``perfbench.iter``.

    Per span: ``task_ms`` (launch to finish, summed over tasks), ``gc_ms``,
    ``shuffle_bytes`` / ``shuffle_records`` written, ``spill_bytes`` (disk),
    ``plan_jobs`` (jobs started in the plan phase) and ``python_stages``
    (stages that sent rows to Python workers).
    """
    stage_label: dict[tuple, tuple] = {}
    out: dict = defaultdict(lambda: {"spans": defaultdict(_span_totals),
                                     "unlabelled_task_ms": 0,
                                     "task_ms": 0})
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            it, span = props.get(ITER), props.get(DESC)
            if it is not None and span and props.get(PHASE) == "plan":
                out[it]["spans"][span]["plan_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_label[key] = (props.get(ITER), props.get(DESC))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            it, span = stage_label.get(key, (None, None))
            if it is not None and span and any(
                    a.get("Name") == PYTHON_METRIC and int(a.get("Value", 0))
                    for a in info.get("Accumulables", [])):
                out[it]["spans"][span]["python_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            it, span = stage_label.get(key, (None, None))
            if it is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            ms = info["Finish Time"] - info["Launch Time"]
            out[it]["task_ms"] += ms
            if not span:
                out[it]["unlabelled_task_ms"] += ms
                continue
            t = out[it]["spans"][span]
            t["task_ms"] += ms
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return {it: {"spans": dict(v["spans"]),
                 "unlabelled_task_ms": v["unlabelled_task_ms"],
                 "task_ms": v["task_ms"]} for it, v in out.items()}
