"""Spans recorded by the benchmark's own code, and the reduction of a
Spark event log into per-layer figures.

Spans are kept in memory and written once, when the run ends.  Every
span carries the run id; a span's parent is the span open around it.

The event-log reduction attributes Spark work to ops through the job
description the traced run sets before each op
(``<prefix>:<pass>:<op>``): jobs carry it in their properties, SQL
executions in their ``description``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "name": name, "attrs": attrs,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **(extra or {})}, f)


# -- query planning ---------------------------------------------------------


def plan_seconds(tracker) -> float:
    """Analysis + optimization + physical planning recorded by a
    ``QueryPlanningTracker``."""
    phases = tracker.phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs()
    return total / 1e3


class PlanListener:
    """Planning time of every query Spark executes.

    A ``QueryExecutionListener`` implemented through the py4j callback
    server: each executed query's ``queryExecution().tracker()`` is read
    when Spark reports it, so the figure covers the queries the actions
    really ran, including the write commands and derived frames a sink
    plans internally.  Reports arrive on Spark's listener thread; ``take``
    waits until the listener bus is drained and returns the planning
    seconds reported since its last call."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        self._plan_s: list[float] = []
        ensure_callback_server_started(self._sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java name
        self._plan_s.append(plan_seconds(qe.tracker()))

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java name
        self._plan_s.append(plan_seconds(qe.tracker()))

    def take(self) -> list[float]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, self._plan_s = self._plan_s, []
        return out


# -- event log ------------------------------------------------------------

CENSUS = {  # metric suffix -> physical plan node name
    "exchange": "Exchange",
    "broadcast_exchange": "BroadcastExchange",
    "bnlj": "BroadcastNestedLoopJoin",
    "arrow_eval_python": "ArrowEvalPython",
    "generate": "Generate",
}
_PY = {
    # "time to initialize Python workers" is left out: a reused worker
    # stamps its boot time when it returns to the pool, so that figure
    # counts idle time between tasks
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_to",
    "data returned from Python workers": "py_bytes_from",
}
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACC = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def read_eventlog(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``,
    plain or rolling (``eventlog_v2_*/events_*``) layout."""
    files = sorted(glob.glob(f"{log_dir}/eventlog_v2_*/events_*")) or sorted(
        p for p in glob.glob(f"{log_dir}/*") if os.path.isfile(p) and not p.endswith(".crc"))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def walk(node: dict):
    yield node
    for ch in node.get("children", []):
        yield from walk(ch)


class OpStats:
    """Spark figures of one op key (all jobs / executions carrying it)."""

    def __init__(self) -> None:
        self.jobs = 0
        self.tasks = 0
        self.task_failures = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.fetch_wait_ms = 0
        self.py = defaultdict(int)
        self.cached_rdds: set[int] = set()
        self.stage_tasks: dict[int, list[int]] = defaultdict(list)
        self.executions: list[int] = []


def reduce_eventlog(events: list[dict], key_of) -> dict:
    """Reduce events to ``{"ops": {key: OpStats}, "executions": {...}}``.

    ``key_of`` maps a job / execution description to an op key (None
    drops it).  Executions keep their final plan (the last adaptive
    update wins), their wall time, and the summed value of every SQL
    metric by accumulator id, so node-level figures (a join's output
    rows, a plan census) come from the same log."""
    ops: dict[str, OpStats] = defaultdict(OpStats)
    stage_key: dict[int, str] = {}
    execs: dict[int, dict] = {}
    accum: dict[int, int] = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = key_of(props.get("spark.job.description"))
            if key is None:
                continue
            ops[key].jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_key[sid] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"])
            info = e["Task Info"]
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        accum[a["ID"]] += int(a["Update"])
                    except (TypeError, ValueError):
                        pass
            if key is None:
                continue
            st = ops[key]
            st.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                st.task_failures += 1
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            for a in info.get("Accumulables", []):
                name = _PY.get(a.get("Name"))
                if name and "Update" in a:
                    st.py[name] += int(a["Update"])
            st.stage_tasks[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(e["Stage Info"]["Stage ID"])
            if key is None:
                continue
            for rdd in e["Stage Info"].get("RDD Info", []):
                lvl = rdd.get("Storage Level") or {}
                if lvl.get("Use Memory") or lvl.get("Use Disk"):
                    ops[key].cached_rdds.add(rdd["RDD ID"])
        elif kind == _SQL_START:
            key = key_of(e.get("description"))
            execs[e["executionId"]] = {"key": key, "plan": e["sparkPlanInfo"],
                                       "start": e["time"], "end": None}
            if key is not None:
                ops[key].executions.append(e["executionId"])
        elif kind == _SQL_AQE:
            if e["executionId"] in execs:
                execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif kind == _SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == _SQL_DRIVER_ACC:
            for aid, val in e.get("accumUpdates", []):
                accum[aid] += int(val)
    return {"ops": dict(ops), "executions": execs, "accum": dict(accum)}


def census(plan: dict) -> dict[str, int]:
    """Counts of the CENSUS node kinds in one plan tree."""
    names = [n["nodeName"] for n in walk(plan)]
    return {k: names.count(v) for k, v in CENSUS.items()}


def plan_nodes(plan: dict) -> int:
    return sum(1 for _ in walk(plan))


def output_rows(execution: dict, accum: dict, node_names: tuple[str, ...]) -> int:
    """Summed "number of output rows" of the plan nodes named ``node_names``."""
    total = 0
    for n in walk(execution["plan"]):
        if n["nodeName"] in node_names:
            for m in n.get("metrics", []):
                if m["name"] == "number of output rows":
                    total += accum.get(m["accumulatorId"], 0)
    return total
