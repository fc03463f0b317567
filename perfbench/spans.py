"""Benchmark-side spans and the fold of Spark's event log into them.

A span wraps one call from the benchmark into a layer of the program. It
records its name, parent, thread and wall interval in memory. With
tracing on, entering a span also tags every Spark job the calling thread
launches with the span's job group, so the event log can attribute jobs,
stages and tasks back to it. Nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict

#: RDD-scope names of the physical operators that run Python workers.
#: Stages that only hold a ``PythonRDD`` (Python-side RDD code, such as
#: ``createDataFrame`` re-serializing local rows) are counted apart.
PYTHON_NODES = frozenset(
    {
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "ArrowEvalPython",
        "BatchEvalPython",
        "ArrowEvalPythonUDTF",
        "BatchEvalPythonUDTF",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "FlatMapGroupsInPandasWithState",
        "AggregateInPandas",
        "ArrowAggregatePython",
        "WindowInPandas",
        "ArrowWindowPython",
    }
)
_GROUP_PREFIX = "pbspan-"


class Span:
    __slots__ = ("id", "name", "parent", "thread", "t0", "t1", "counts")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.id = sid
        self.name = name
        self.parent = parent
        self.thread = threading.get_ident()
        self.t0 = time.time()
        self.t1 = self.t0
        self.counts: dict[str, float] = {}

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "thread": self.thread,
            "t0": self.t0,
            "t1": self.t1,
            "counts": self.counts,
        }


class Tracer:
    """Spans in memory. ``spark_context`` is set once a session exists;
    with ``tag_jobs`` each span sets the thread's Spark job group."""

    def __init__(self, tag_jobs: bool):
        self.tag_jobs = tag_jobs
        self.spark_context = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if not (self.tag_jobs and self.spark_context is not None):
            return
        if span is None:
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark_context.setJobGroup(f"{_GROUP_PREFIX}{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1].id if stack else None)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(sp)

    def note_plan(self, sp: Span, df) -> None:
        """Record ``df``'s Catalyst time on ``sp`` (traced runs only)."""
        if self.tag_jobs:
            sp.counts["driver.catalyst_s"] = sp.counts.get("driver.catalyst_s", 0.0) + planning_s(df)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps(sp.to_json()) + "\n")


def planning_s(df) -> float:
    """Catalyst analysis + optimization + planning time of an executed
    DataFrame, from its QueryPlanningTracker (0 when unavailable)."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 - py4j raises its own error types
        return 0.0
    total, it = 0, phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Confs for an uncompressed, non-rolling event log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _walk_plan(node: dict, out: dict[int, tuple[str, str]], writes: list[str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    if node["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
        writes.append(node.get("simpleString", ""))
    for c in node.get("children", []):
        _walk_plan(c, out, writes)


_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "pyworker.stage_run_s",
    "pyworker.stage_cpu_s",
    "pyworker.rdd_stages",
    "io.input_bytes",
    "io.input_records",
    "io.output_bytes",
    "io.output_records",
    "io.output_files",
    "io.write_tasks",
    "io.empty_write_tasks",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "stream.batches",
    "rows.nested_loop_join",
)


def _empty() -> dict:
    d: dict = dict.fromkeys(_FIELDS, 0.0)
    d["intervals"], d["write_intervals"] = [], []
    return d


def merge_folds(a: dict, b: dict) -> None:
    """Add the per-span totals of ``b`` into ``a``."""
    for g, o in b.items():
        if g not in a:
            a[g] = o
            continue
        for k, v in o.items():
            a[g][k] = a[g][k] + v


def fold_event_log(path: str, spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per-span totals from one event log: jobs, stages and tasks, task
    run/CPU/GC time, Python-stage time, I/O, shuffle and selected SQL
    metrics, plus the span's job intervals (all, and those of jobs that
    write files). Work is attributed to the span whose job group
    launched it; streaming progress events, which carry no group, go to
    the innermost span whose interval contains them."""
    job_group: dict[int, int] = {}
    job_exec: dict[int, int] = {}
    job_times: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_python: dict[int, bool] = {}
    stage_pyrdd: dict[int, bool] = {}
    exec_group: dict[int, int] = {}
    accum_names: dict[int, tuple[str, str]] = {}
    exec_writes: dict[int, list[str]] = defaultdict(list)
    driver_accums: list[tuple[int, int, float]] = []
    progress_ts: list[float] = []
    per_stage: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_accums: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))

    def group_of(props_or_id) -> int | None:
        g = props_or_id or ""
        if g.startswith(_GROUP_PREFIX):
            return int(g[len(_GROUP_PREFIX) :])
        return None

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = group_of(e.get("Properties", {}).get("spark.jobGroup.id"))
                if g is not None:
                    job_group[e["Job ID"]] = g
                exec_id = e.get("Properties", {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    job_exec[e["Job ID"]] = int(exec_id)
                job_times[e["Job ID"]] = [e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0]
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in job_times:
                    job_times[e["Job ID"]][1] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                scopes, rdd_names = set(), set()
                for rdd in info.get("RDD Info", []):
                    rdd_names.add(rdd.get("Name"))
                    try:
                        scopes.add(json.loads(rdd.get("Scope", "{}")).get("name"))
                    except ValueError:
                        pass
                stage_python[info["Stage ID"]] = bool(scopes & PYTHON_NODES)
                stage_pyrdd[info["Stage ID"]] = "PythonRDD" in rdd_names
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = per_stage[e["Stage ID"]]
                st["tasks"] += 1
                st["executor.run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["executor.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                inp = m.get("Input Metrics", {})
                st["io.input_bytes"] += inp.get("Bytes Read", 0)
                st["io.input_records"] += inp.get("Records Read", 0)
                out = m.get("Output Metrics", {})
                st["io.output_bytes"] += out.get("Bytes Written", 0)
                st["io.output_records"] += out.get("Records Written", 0)
                st["task_out_empty"] += 1 if out.get("Records Written", 0) == 0 else 0
                sw = m.get("Shuffle Write Metrics", {})
                st["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                st["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                for acc in e.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql":
                        try:
                            task_accums[e["Stage ID"]][acc["ID"]] += float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                writes: list[str] = []
                _walk_plan(e["sparkPlanInfo"], accum_names, writes)
                if kind.endswith("SQLExecutionStart"):
                    exec_writes[e["executionId"]].extend(writes)
                    g = group_of(e.get("jobGroupId"))
                    if g is not None:
                        exec_group[e["executionId"]] = g
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    driver_accums.append((e["executionId"], acc_id, float(value)))
            elif kind.endswith("QueryProgressEvent"):
                ts = e.get("progress", {}).get("timestamp")
                if ts:
                    progress_ts.append(_iso_epoch(ts))

    out: dict[int, dict] = defaultdict(_empty)
    for job, g in job_group.items():
        out[g]["jobs"] += 1
        out[g]["intervals"].append(tuple(job_times[job]))
        if exec_writes.get(job_exec.get(job, -1)):
            out[g]["write_intervals"].append(tuple(job_times[job]))
    for stage, job in stage_job.items():
        g = job_group.get(job)
        if g is None or stage not in per_stage:
            continue
        st, o = per_stage[stage], out[g]
        o["stages"] += 1
        for k in (
            "tasks",
            "executor.run_s",
            "executor.cpu_s",
            "executor.gc_s",
            "io.input_bytes",
            "io.input_records",
            "io.output_bytes",
            "io.output_records",
            "shuffle.write_bytes",
            "shuffle.read_bytes",
            "shuffle.fetch_wait_s",
        ):
            o[k] += st[k]
        if st["io.output_bytes"] > 0:
            o["io.write_tasks"] += st["tasks"]
            o["io.empty_write_tasks"] += st["task_out_empty"]
        if stage_python.get(stage):
            o["pyworker.stage_run_s"] += st["executor.run_s"]
            o["pyworker.stage_cpu_s"] += st["executor.cpu_s"]
        if stage_pyrdd.get(stage):
            o["pyworker.rdd_stages"] += 1
        for acc_id, v in task_accums[stage].items():
            node, metric = accum_names.get(acc_id, ("", ""))
            if node == "BroadcastNestedLoopJoin" and metric == "number of output rows":
                o["rows.nested_loop_join"] += v
    for exec_id, acc_id, v in driver_accums:
        g = exec_group.get(exec_id)
        if g is not None and accum_names.get(acc_id, ("", ""))[1] == "number of written files":
            out[g]["io.output_files"] += v
    by_id = {s.id: s for s in spans}
    for ts in progress_ts:
        inner = [s for s in spans if s.t0 <= ts <= s.t1]
        if inner:
            out[max(inner, key=lambda s: s.t0).id]["stream.batches"] += 1
    return {g: o for g, o in out.items() if g in by_id}


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    children: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children[s.id])
    return out
