"""Spark-layer collector: the event log per job group, and plan counts.

The benchmark tags every op (and every layer probe) with its own job
group, so each Spark job, stage and task in the event log can be
parented to the action that caused it.
"""

from __future__ import annotations

import json
import os
import re

_PYTHON_NODES = re.compile(
    r"^(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|"
    r"BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|AggregateInPandas|"
    r"ArrowAggregatePython|WindowInPandas|ArrowWindowPython)$"
)
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s*)?([A-Z][A-Za-z0-9]*)")


def read_event_log(log_dir: str) -> dict:
    """Group jobs, stages and tasks of every event log in `log_dir` by
    job group: {group: {"jobs": [...], "stages": [...], "tasks": [...]}}.
    Times are epoch seconds."""
    job_group: dict[int, str] = {}
    job_times: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple, dict] = {}
    tasks: list[dict] = []
    paths = sorted(
        os.path.join(d, fn)
        for d, _, fns in os.walk(log_dir)
        for fn in fns
        if fn.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id")
                    job_times[jid] = [ev["Submission Time"] / 1e3, None]
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if "Submission Time" not in si:
                        continue
                    stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                        "stage": si["Stage ID"],
                        "start": si["Submission Time"] / 1e3,
                        "end": si["Completion Time"] / 1e3,
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "start": ti["Launch Time"] / 1e3,
                        "end": ti["Finish Time"] / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "peak_mem": tm.get("Peak Execution Memory", 0),
                    })
    out: dict = {}

    def group_of_stage(sid):
        return job_group.get(stage_job.get(sid))

    for jid, (a, b) in job_times.items():
        g = out.setdefault(job_group[jid], _empty())
        g["jobs"].append({"job": jid, "start": a, "end": b if b else a})
    for st in stages.values():
        out.setdefault(group_of_stage(st["stage"]), _empty())["stages"].append(st)
    for t in tasks:
        out.setdefault(group_of_stage(t["stage"]), _empty())["tasks"].append(t)
    return out


def _empty() -> dict:
    return {"jobs": [], "stages": [], "tasks": []}


def final_plan(df) -> str:
    """The executed physical plan of a DataFrame whose action already ran
    (the adaptive plan's final section when AQE re-planned it)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1]
        text = text.split("== Initial Plan ==", 1)[0]
    return text


def plan_counts(plan_text: str) -> dict:
    """Node, exchange and Python-operator counts of a plan tree string.
    The plan that filled a cached relation is not part of the query, so
    lines below an InMemoryRelation are skipped."""
    names = []
    cached_depth = None
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m or line.lstrip().startswith("=="):
            continue
        depth = m.start(1)
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if m.group(1) == "InMemoryRelation" else None
        names.append(m.group(1))
    return {
        "nodes": len(names),
        "exchanges": sum("Exchange" in n for n in names),
        "python": sum(bool(_PYTHON_NODES.match(n)) for n in names),
    }
