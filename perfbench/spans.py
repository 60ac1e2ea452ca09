"""Spans, streaming progress and a Spark event-log parser.

A :class:`Tracer` records spans around the public calls the benchmark
makes.  Each span runs under its own Spark job group, so every job the
span causes can be found in the event log afterwards; structured
streaming jobs carry the query's ``runId`` as their job group instead,
and the span that started the query claims that ``runId``.  A
``StreamingQueryListener`` records each epoch's progress.

The event log is written uncompressed and unrolled (no zstd module is
installed for Python), and parsed once, after the session stops, by
:func:`parse_event_log`; :func:`span_stats` then attributes jobs,
stages, tasks, executor time, shuffle bytes, Python-worker metrics and
final-plan node counts to spans.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
#: SQL metric names of the Python/Arrow exec nodes, by result key.
PYTHON_METRICS = {
    "worker_start_s": "time to start Python workers",
    "worker_run_s": "time to run Python workers",
    "bytes_sent": "data sent to Python workers",
    "bytes_returned": "data returned from Python workers",
}
#: SQL metric names of the file-write commands.
WRITE_METRICS = {
    "files_written": "number of written files",
    "bytes_written": "written output",
    "rows_written": "number of output rows",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    run_ids: list[str] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; nothing is written until the run ends."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent.group if parent else None
            )

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self._stack[-1].name if self._stack else None

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every epoch's progress
    by ``runId`` and notes which runs have terminated."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self._lock:
                self.progress[str(p.runId)].append(
                    {
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "batch_duration_s": p.batchDuration / 1000.0,
                    }
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated.add(str(event.runId))

        def wait_terminated(self, run_ids, timeout: float = 10.0) -> bool:
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if set(run_ids) <= self.terminated:
                        return True
                time.sleep(0.05)
            return False

    return ProgressListener()


@dataclass
class EventLog:
    jobs: dict[int, dict]
    stages: dict[int, dict]
    #: accumulator id -> (metric name, metric type, plan node name,
    #: scan location or "")
    accums: dict[int, tuple]
    #: SQL execution id -> final plan node names
    plan_nodes: dict[int, list[str]]
    #: SQL execution id -> {accumulator id: value} posted by the driver
    #: (file-write command metrics)
    driver_accums: dict[int, dict[int, float]]


def _walk(info: dict, out: list[dict]) -> None:
    out.append(info)
    for child in info.get("children", ()):
        _walk(child, out)


def parse_event_log(path: str) -> EventLog:
    """Jobs (group, SQL execution, times, stage ids), completed stages
    (tasks and accumulables), plan metric accumulators and each SQL
    execution's final plan from one uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    accums: dict[int, tuple] = {}
    plan_nodes: dict[int, list[str]] = {}
    driver_accums: dict[int, dict[int, float]] = defaultdict(dict)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "execution": int(exec_id) if exec_id is not None else None,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stage_ids": list(ev.get("Stage IDs", ())),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"],
                    "accums": {
                        a["ID"]: a.get("Value")
                        for a in info.get("Accumulables", ())
                    },
                    "names": {
                        a["ID"]: a.get("Name") for a in info.get("Accumulables", ())
                    },
                }
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                nodes: list[dict] = []
                _walk(ev["sparkPlanInfo"], nodes)
                plan_nodes[ev["executionId"]] = [n["nodeName"] for n in nodes]
                for n in nodes:
                    loc = (n.get("metadata") or {}).get("Location", "")
                    for m in n.get("metrics", ()):
                        accums[m["accumulatorId"]] = (
                            m["name"],
                            m["metricType"],
                            n["nodeName"],
                            loc,
                        )
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                updates = driver_accums[ev["executionId"]]
                for acc_id, value in ev["accumUpdates"]:
                    updates[acc_id] = updates.get(acc_id, 0.0) + _num(value)
    return EventLog(jobs, stages, accums, plan_nodes, dict(driver_accums))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _metric_seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1000.0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_stats(log: EventLog, spans: list[Span], top: Span, scan_root: str = "") -> dict:
    """Spark work caused by ``top`` and its descendant ``spans``: job,
    stage and task counts, driver-only time, executor time, shuffle
    bytes, final-plan exchanges and Python nodes, Python-worker metrics,
    file-write metrics, and rows read by scans whose location contains
    ``scan_root`` (when given)."""
    groups = {s.group for s in spans}
    for s in spans:
        groups.update(s.run_ids)
    jobs = [j for j in log.jobs.values() if j["group"] in groups]
    stage_ids = {sid for j in jobs for sid in j["stage_ids"] if sid in log.stages}
    executions = {j["execution"] for j in jobs if j["execution"] is not None}
    out = defaultdict(float)
    out["jobs"] = len(jobs)
    out["stages"] = len(stage_ids)
    intervals = [(j["submit"], j["end"] or top.end) for j in jobs]
    out["driver_only_s"] = top.seconds - _covered(intervals, top.start, top.end)
    python_names = {v: k for k, v in PYTHON_METRICS.items()}
    write_names = {v: k for k, v in WRITE_METRICS.items()}
    for sid in stage_ids:
        st = log.stages[sid]
        out["tasks"] += st["tasks"]
        for acc_id, value in st["accums"].items():
            name = st["names"].get(acc_id)
            v = _num(value)
            if name == "internal.metrics.executorRunTime":
                out["executor_run_s"] += v / 1000.0
            elif name == "internal.metrics.shuffle.write.bytesWritten":
                out["shuffle_bytes"] += v
            meta = log.accums.get(acc_id)
            if meta is None:
                continue
            mname, mtype, node, loc = meta
            if mname in python_names:
                key = python_names[mname]
                out["python." + key] += (
                    _metric_seconds(v, mtype) if key.endswith("_s") else v
                )
            elif (
                scan_root
                and mname == "number of output rows"
                and node.startswith("Scan")
                and scan_root in loc
            ):
                out["scan_rows"] += v
    for e in executions:
        for acc_id, v in log.driver_accums.get(e, {}).items():
            meta = log.accums.get(acc_id)
            if meta and meta[0] in write_names and meta[2].startswith("Execute"):
                out["write." + write_names[meta[0]]] += v
        nodes = log.plan_nodes.get(e, ())
        out["exchanges"] += sum(1 for n in nodes if n == "Exchange")
        out["python.eval_nodes"] += sum(1 for n in nodes if PYTHON_NODE.search(n))
    return dict(out)
