"""In-memory spans around library calls, and Spark event-log attribution.

A traced run wraps each call into a library module in a :class:`Tracer`
span. Every span is also a Spark job group, so the event log that the
traced session writes can be split by span: :func:`parse_event_log` turns
it into per-group stage/task/UDF counters and job/stage intervals, and
:func:`reconcile` checks that an operation's wall time is covered by its
child spans and Spark stages, naming what is left over.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from .stats import union_length

#: Spark's PythonSQLMetrics names (task accumulables on Python exec nodes)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"

#: per-layer counters parsed per job group; times are seconds
SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "task_wait_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "result_bytes", "peak_exec_mem_bytes")
UDF_KEYS = ("bytes_to_python", "bytes_from_python", "rows_from_python",
            "python_run_s", "python_boot_s")
_PY_KEYS = dict(zip((PY_SENT, PY_RECEIVED, PY_ROWS, PY_RUN, PY_BOOT),
                    UDF_KEYS))


class Tracer:
    """Collects spans (name, start, end, parent, span id, trace id) in
    memory. With a SparkContext, each span runs its jobs under job group
    = span id, restored to the parent's group on exit. A disabled tracer
    records nothing and touches no Spark state."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self._next = 0

    def _set_group(self, top: tuple[str, str] | None) -> None:
        if self.sc is None:
            return
        if top is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(top[0], top[1])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = f"s{self._next}"
        self._next += 1
        parent = self._stack[-1][0] if self._stack else None
        trace = self._stack[0][0] if self._stack else sid
        self._stack.append((sid, name))
        self._set_group(self._stack[-1])
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append({"span_id": sid, "name": name,
                               "parent": parent, "trace": trace,
                               "start": start, "end": end, **attrs})

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1)


#: seconds per unit of each SQL metric type
_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk_plan(node: dict, out: dict[int, tuple[str, float]]) -> None:
    """Map accumulator id -> (name, seconds-or-1 scale) for the metrics of
    Python-exec nodes (the nodes that carry :data:`PY_SENT`)."""
    metrics = node.get("metrics", [])
    if any(m.get("name") == PY_SENT for m in metrics):
        for m in metrics:
            out[int(m["accumulatorId"])] = (
                m.get("name", ""), _METRIC_SCALE.get(m.get("metricType"), 1.0))
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse_event_log(path: str) -> dict:
    """Parse a (finished, uncompressed) Spark JSON event log.

    Returns ``{"groups": {group: counters}, "jobs": {group: [(start,
    end)]}, "stages": {group: [(start, end)]}}`` with epoch-second
    intervals; counters are :data:`SPARK_KEYS` and :data:`UDF_KEYS`.
    Jobs run outside any group are filed under ``""``."""
    events = []
    with open(path) as f:
        for line in f:
            if line.strip():
                events.append(json.loads(line))
    py_accs: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(SPARK_KEYS + UDF_KEYS, 0.0))
    jobs: dict[str, list] = defaultdict(list)
    stages: dict[str, list] = defaultdict(list)

    def group_of(props: dict | None) -> str:
        return (props or {}).get("spark.jobGroup.id") or ""

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            if ev.get("sparkPlanInfo"):
                _walk_plan(ev["sparkPlanInfo"], py_accs)
        elif kind == "SparkListenerJobStart":
            g = group_of(ev.get("Properties"))
            job_group[ev["Job ID"]] = g
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                jobs[job_group[jid]].append(
                    (job_start[jid], ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = group_of(ev.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stages[stage_group.get(info["Stage ID"], "")].append(
                    (info["Submission Time"] / 1e3,
                     info["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            _add_task(g, ev, py_accs)
    return {"groups": dict(groups), "jobs": dict(jobs),
            "stages": dict(stages)}


def _add_task(g: dict, ev: dict, py_accs: dict[int, tuple[str, float]]
              ) -> None:
    info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    g["tasks"] += 1
    run_ms = tm.get("Executor Run Time", 0)
    g["executor_run_s"] += run_ms / 1e3
    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    if info.get("Finish Time") and info.get("Launch Time"):
        g["task_wait_s"] += max(
            info["Finish Time"] - info["Launch Time"] - run_ms, 0) / 1e3
    sw = tm.get("Shuffle Write Metrics", {})
    sr = tm.get("Shuffle Read Metrics", {})
    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
    g["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0))
    g["result_bytes"] += tm.get("Result Size", 0)
    g["peak_exec_mem_bytes"] = max(g["peak_exec_mem_bytes"],
                                   tm.get("Peak Execution Memory", 0))
    for acc in info.get("Accumulables", []):
        name, scale = py_accs.get(int(acc.get("ID", -1)), (None, 1.0))
        key = _PY_KEYS.get(name)
        if key is not None:
            g[key] += float(acc.get("Update", 0)) * scale


def subtree_ids(spans: list[dict], root: str) -> set[str]:
    """Ids of ``root`` and every span below it."""
    kids: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["span_id"])
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


def sum_groups(log: dict, ids: set[str]) -> dict[str, float]:
    """Counters summed over the job groups ``ids`` (peak memory: max)."""
    tot = dict.fromkeys(SPARK_KEYS + UDF_KEYS, 0.0)
    for sid in ids:
        g = log["groups"].get(sid)
        if g is None:
            continue
        for k, v in g.items():
            tot[k] = max(tot[k], v) if k == "peak_exec_mem_bytes" \
                else tot[k] + v
    return tot


def reconcile(op: dict, spans: list[dict], log: dict,
              tolerance: float) -> dict:
    """Account for one operation span's wall time.

    Covered time is the union of its child spans and of the Spark stages
    run under its span tree. The rest is the residual, split into
    *scheduler* time (inside a Spark job but outside every stage) and
    *driver* time (outside every job: planning, Arrow collection, Python
    on the driver). The operation reconciles when the residual is at most
    ``tolerance`` of its wall time."""
    clip = (op["start"], op["end"])
    wall = op["end"] - op["start"]
    ids = subtree_ids(spans, op["span_id"])
    child = [(s["start"], s["end"]) for s in spans
             if s["parent"] == op["span_id"]]
    stage_iv = [iv for sid in ids for iv in log["stages"].get(sid, [])]
    job_iv = [iv for sid in ids for iv in log["jobs"].get(sid, [])]
    covered = union_length(child + stage_iv, clip)
    with_jobs = union_length(child + stage_iv + job_iv, clip)
    residual = max(wall - covered, 0.0)
    scheduler = max(with_jobs - covered, 0.0)
    return {"op": op["name"], "wall_s": wall, "covered_s": covered,
            "residual_s": residual, "scheduler_s": scheduler,
            "driver_s": max(residual - scheduler, 0.0),
            "reconciled": residual <= tolerance * wall}
