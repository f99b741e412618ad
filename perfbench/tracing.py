"""Tracing for the benchmark's traced run, measured from outside the library.

* Spans (name, start, end, parent, op id) around every public library
  call and around the action, kept in memory and written out at the end.
* Prefix differentials: the chain is forced after each stage with Spark's
  ``noop`` sink; a stage's self time is its prefix time minus the previous
  prefix's. Lazy-pack rewrites move work across stage boundaries, so
  differences can be negative; they are reported as measured.
* Spark counts: ``setJobGroup`` + ``statusTracker`` per execution, and the
  event log (enabled only in the traced run) for per-task run time, launch
  wait, input/output/shuffle/spill bytes and each SQL execution's final
  physical plan.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from typing import Any

from ops import Op, frames


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, name: str, op_id: str, parent: int | None = None) -> "_Span":
        return _Span(self, name, op_id, parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op_id: str, parent: int | None):
        self.tracer, self.rec = tracer, {"name": name, "op": op_id, "parent": parent}

    def __enter__(self) -> int:
        self.rec["start"] = time.perf_counter()
        self.tracer.spans.append(self.rec)
        return len(self.tracer.spans) - 1

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()

    @property
    def seconds(self) -> float:
        return self.rec["end"] - self.rec["start"]


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and completed tasks of one job group (statusTracker)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks}


def persisted(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def traced_execution(spark, op: Op, op_id: str, tracer: Tracer) -> tuple[Any, dict]:
    """One traced execution of ``op``: the full chain with spans (the op's
    latency sample), then one forced prefix per stage. Returns the action's
    result and the op's measurements keyed by metric name."""
    sc = spark.sparkContext
    m: dict[str, Any] = {}
    before = persisted(sc)
    sc.setJobGroup(f"{op_id}/run", op.name)
    with tracer.span(op.name, op_id) as root_idx:
        root = tracer.spans[root_idx]
        value, build_s, compile_s = None, 0.0, 0.0
        for st in op.stages:
            span = tracer.span(st.call, op_id, root_idx)
            with span:
                value = st.fn(value)
            if st.call in ("query", "eval"):
                compile_s += span.seconds
            if not st.executes:
                build_s += span.seconds
        with tracer.span("action", op_id, root_idx):
            result = op.action(value)
    m["latency_s"] = root["end"] - root["start"]
    m["nestedframe.build_s"] = build_s
    m["expr.compile_s"] = compile_s
    m["spark.persisted_rdds_delta"] = persisted(sc) - before
    m.update(job_counts(sc, f"{op_id}/run"))

    prefix = []
    value = None
    for k, st in enumerate(op.stages):
        sc.setJobGroup(f"{op_id}/p{k}", f"{op.name} prefix {k}")
        if st.executes:
            t = time.perf_counter()
            value = st.fn(value)
        else:
            value = st.fn(value)
            t = time.perf_counter()
            for df in frames(value):
                df.write.format("noop").mode("overwrite").save()
        prefix.append(time.perf_counter() - t)
    sc.setJobGroup("idle", "between ops")
    m["prefix_s"] = prefix
    m["self_s"] = [p - (prefix[k - 1] if k else 0.0) for k, p in enumerate(prefix)]
    m["action_self_s"] = m["latency_s"] - build_s - prefix[-1]
    for st, s in zip(op.stages, m["self_s"]):
        m[st.layer] = m.get(st.layer, 0.0) + s
    return result, m


# -- event log ---------------------------------------------------------------

def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task, stage and plan figures from the event log."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties", {})
                    group = props.get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and group is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
                    group = ev.get("Properties", {}).get("spark.jobGroup.id")
                    if group is not None:
                        stage_group[info["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    exec_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    per_stage: dict[str, list] = defaultdict(list)
    for sid, evs in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out[group]
        run_s = []
        stage_has_input = False
        for ev in evs:
            tm = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            run_s.append(tm.get("Executor Run Time", 0) / 1000.0)
            g["spark.sched_wait_s"] += max(0.0, ti["Launch Time"] / 1000.0 - stage_submit.get(sid, ti["Launch Time"] / 1000.0))
            inp = tm.get("Input Metrics", {})
            g["io.rows_read"] += inp.get("Records Read", 0)
            g["io.bytes_read"] += inp.get("Bytes Read", 0)
            stage_has_input |= inp.get("Bytes Read", 0) > 0
            g["io.bytes_written"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            g["spark.shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        if stage_has_input:
            g["io.scan_tasks"] += len(evs)
        p50, mx = statistics.median(run_s), max(run_s)
        g["spark.task_p50_s"] = max(g["spark.task_p50_s"], p50)
        g["spark.task_max_s"] = max(g["spark.task_max_s"], mx)
        per_stage[group].append({"stage": sid, "tasks": len(evs), "task_p50_s": p50,
                                 "task_max_s": mx})
    for eid, plan in exec_plan.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        out[group]["packer.collect_list_execs"] += sum(
            1 for n in _plan_nodes(plan)
            if "Aggregate" in n.get("nodeName", "") and "collect_list" in n.get("simpleString", ""))
    for group, stages in per_stage.items():
        out[group]["stages"] = sorted(stages, key=lambda s: s["stage"])
    return {g: dict(v) for g, v in out.items()}
