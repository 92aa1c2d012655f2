"""Parser for Spark's uncompressed JSON event log and the per-layer
numbers the benchmark derives from it.

Jobs are grouped by their description, which the benchmark sets to
``<workload>:<call>:<op>`` around each public call it times. Stages are
classified by the physical operators their RDDs were created under
(the ``Scope`` of each ``RDD Info``), e.g. ``FlatMapGroupsInArrow`` for
the sharded build's ``applyInArrow`` node and ``ArrowEvalPython`` for
the broadcast probe.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    gc_ms: int = 0
    spill_bytes: int = 0

    @property
    def seconds(self) -> float:
        return (self.finish_ms - self.launch_ms) / 1000.0


@dataclass
class Stage:
    stage_id: int
    scopes: set = field(default_factory=set)
    submit_ms: int = 0
    complete_ms: int = 0
    metrics: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.complete_ms - self.submit_ms) / 1000.0

    def metric(self, name: str) -> float:
        return float(self.metrics.get(name, 0) or 0)


@dataclass
class Job:
    job_id: int
    label: str | None
    stage_ids: list
    sql_execution: int | None = None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    # driver-side SQL metric values by name, per SQL execution id
    driver_metrics: dict = field(default_factory=dict)

    def label_jobs(self, label: str) -> list:
        return [j for j in self.jobs.values() if j.label == label]

    def label_stages(self, label: str) -> list:
        """The completed stages of the jobs labelled ``label`` (a stage
        skipped because its shuffle output was reused never completes
        and is left out)."""
        out, seen = [], set()
        for j in self.label_jobs(label):
            for s in j.stage_ids:
                if s in self.stages and s not in seen:
                    seen.add(s)
                    out.append(self.stages[s])
        return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", ()):
        _plan_metric_names(c, out)


def parse_lines(lines) -> EventLog:
    log = EventLog()
    acc_names: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.job.description"),
                list(e.get("Stage IDs", ())),
                sql_execution=int(exec_id) if exec_id else None)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = log.stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
            st.submit_ms = si.get("Submission Time", 0)
            st.complete_ms = si.get("Completion Time", 0)
            for r in si.get("RDD Info", ()):
                if r.get("Scope"):
                    st.scopes.add(json.loads(r["Scope"])["name"])
            for a in si.get("Accumulables", ()):
                st.metrics[a["Name"]] = _num(a.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            st.tasks.append(Task(
                info["Launch Time"], info["Finish Time"],
                tm.get("JVM GC Time", 0),
                tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0)))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _plan_metric_names(e.get("sparkPlanInfo") or {}, acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            vals = log.driver_metrics.setdefault(e["executionId"], {})
            for acc_id, value in e.get("accumUpdates", ()):
                name = acc_names.get(acc_id)
                if name:
                    vals[name] = vals.get(name, 0.0) + _num(value)
    return log


def read_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path`` (Spark writes one file,
    or a directory of rolled files, per application)."""
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f)
                   .startswith((".", "appstatus")))
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh)
    return parse_lines(lines)


# -- per-layer numbers ---------------------------------------------------------

def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _with_scope(stages, scope: str) -> list:
    return [s for s in stages if scope in s.scopes]


def build_layers(log: EventLog, labels) -> dict:
    """``build.*`` and ``sources.*`` of the ops labelled ``labels``, each
    the median over ops. The shard stage runs the ``applyInArrow``
    builds and, fused into it, the checkpoint write; the exchange stages
    are the shuffle-writing stages before it."""
    per_op = []
    for label in labels:
        stages = log.label_stages(label)
        shard = _with_scope(stages, "FlatMapGroupsInArrow")
        exch = [s for s in stages if s not in shard
                and s.metric("internal.metrics.shuffle.write.bytesWritten")]
        tasks = [t.seconds for s in shard for t in s.tasks]
        executions = {j.sql_execution for j in log.label_jobs(label)}
        commit_ms = sum(s.metric("task commit time") for s in shard) + sum(
            log.driver_metrics.get(x, {}).get("job commit time", 0.0)
            for x in executions)
        per_op.append({
            "build.exchange_stage_s": sum(s.seconds for s in exch),
            "build.shard_stage_s": sum(s.seconds for s in shard),
            "build.shuffle_write_bytes": sum(
                s.metric("internal.metrics.shuffle.write.bytesWritten")
                for s in stages),
            "build.spill_bytes": sum(t.spill_bytes for s in stages
                                     for t in s.tasks),
            "build.python_bytes_in": sum(
                s.metric("data sent to Python workers") for s in shard),
            "build.task_s_max": max(tasks, default=0.0),
            "build.task_s_median": _med(tasks),
            "build.gc_s": sum(t.gc_ms for s in stages for t in s.tasks)
            / 1000.0,
            "build.jobs": float(len(log.label_jobs(label))),
            "sources.checkpoint_write_s": commit_ms / 1000.0,
            "sources.checkpoint_bytes": sum(
                s.metric("internal.metrics.output.bytesWritten")
                for s in shard),
        })
    return _median_of(per_op)


def lookup_layers(log: EventLog, labels, nproc: int) -> dict:
    """``lookup.*`` of the ops labelled ``labels``: the probe stage
    is the one running ``ArrowEvalPython``; its first wave of ``nproc``
    tasks pays the per-worker deserialize and index build."""
    per_op = []
    for label in labels:
        probe = _with_scope(log.label_stages(label), "ArrowEvalPython")
        tasks = sorted((t for s in probe for t in s.tasks),
                       key=lambda t: t.launch_ms)
        first, rest = tasks[:nproc], tasks[nproc:]
        per_op.append({
            "lookup.probe_stage_s": sum(s.seconds for s in probe),
            "lookup.task_s_first": _med(t.seconds for t in first),
            "lookup.task_s_median": _med(t.seconds for t in rest or first),
        })
    return _median_of(per_op)


def _median_of(per_op: list) -> dict:
    if not per_op:
        return {}
    return {k: _med(op[k] for op in per_op) for k in per_op[0]}
