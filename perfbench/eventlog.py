"""Readers for Spark's own records of a run: the JSON-lines event log
(``spark.eventLog.enabled``, uncompressed, not rolled) and streaming
query progress. Both turn into per-layer numbers for a time window, so
a traced phase is scoped by the span that timed it."""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

SQL_EVENT = "org.apache.spark.sql.execution.ui."
# node names of the physical operators that run Python code
PYTHON_NODE_MARKERS = ("Python", "Arrow", "Pandas")
ROW_METRICS = ("number of output rows", "records read")


def is_python_node(name: str) -> bool:
    return any(m in name for m in PYTHON_NODE_MARKERS)


@dataclass
class Task:
    stage: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    accums: dict[int, int]


@dataclass
class EventLog:
    # job id -> (submitted ms, stage ids); job id -> completed ms
    jobs: dict[int, tuple[int, list[int]]] = field(default_factory=dict)
    job_ends: dict[int, int] = field(default_factory=dict)
    completed_stages: set[int] = field(default_factory=set)
    python_stages: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)
    # accumulator id -> (python node?, metric name); plus, for Python
    # nodes, the row-count accumulator of the node feeding them
    sql_metrics: dict[int, tuple[bool, str]] = field(default_factory=dict)
    python_input_rows: set[int] = field(default_factory=set)


def _row_metric(node: dict) -> int | None:
    for m in node["metrics"]:
        if m["name"] in ROW_METRICS:
            return m["accumulatorId"]
    for child in node["children"]:
        found = _row_metric(child)
        if found is not None:
            return found
    return None


def _walk_plan(node: dict, log: EventLog) -> None:
    py = is_python_node(node["nodeName"])
    for m in node["metrics"]:
        log.sql_metrics[m["accumulatorId"]] = (py, m["name"])
    if py:
        for child in node["children"]:
            acc = _row_metric(child)
            if acc is not None:
                log.python_input_rows.add(acc)
    for child in node["children"]:
        _walk_plan(child, log)


def _count(update) -> int | None:
    """An accumulator update as an integer (SQL metrics log theirs as
    strings); None for the list-valued internal ones."""
    try:
        return int(update)
    except (TypeError, ValueError):
        return None


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = (e["Submission Time"], e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            log.job_ends[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            log.completed_stages.add(info["Stage ID"])
            for rdd in info["RDD Info"]:
                scope = json.loads(rdd.get("Scope") or "{}")
                if is_python_node(scope.get("name", "")):
                    log.python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            info = e["Task Info"]
            rd = m["Shuffle Read Metrics"]
            log.tasks.append(Task(
                stage=e["Stage ID"],
                duration_ms=info["Finish Time"] - info["Launch Time"],
                run_ms=m["Executor Run Time"],
                cpu_ns=m["Executor CPU Time"],
                shuffle_write=m["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"],
                shuffle_read=rd["Remote Bytes Read"] + rd["Local Bytes Read"],
                spill=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                accums={a["ID"]: n for a in info["Accumulables"]
                        if (n := _count(a.get("Update"))) is not None}))
        elif kind in (SQL_EVENT + "SparkListenerSQLExecutionStart",
                      SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], log)
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def window_metrics(log: EventLog, start_s: float, end_s: float) -> dict:
    """Layer numbers for the jobs submitted within [start_s, end_s]
    (epoch seconds). Keys are per-layer metric names."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    stages = {s for t, ids in log.jobs.values() if lo <= t <= hi
              for s in ids}
    tasks = [t for t in log.tasks if t.stage in stages]
    py_tasks = [t for t in tasks if t.stage in log.python_stages]

    def sql_sum(pred) -> int:
        return sum(v for t in tasks for acc, v in t.accums.items()
                   if acc in log.sql_metrics and pred(acc))

    def py_metric(name):
        return sql_sum(lambda a: log.sql_metrics[a] == (True, name))

    return {
        "spark.stages": len(stages & log.completed_stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.task_p50_s": _pct([t.duration_ms for t in tasks], 0.5) / 1e3,
        "spark.task_max_s": max((t.duration_ms for t in tasks),
                                default=0) / 1e3,
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spark.spill_bytes": sum(t.spill for t in tasks),
        "python.rows_in": sql_sum(lambda a: a in log.python_input_rows),
        "python.rows_out": py_metric("number of output rows"),
        "python.bytes_in": py_metric("data sent to Python workers"),
        "python.bytes_out": py_metric("data returned from Python workers"),
        "python.run_s": py_metric("time to run Python workers") / 1e3,
        "python.task_p50_s": _pct([t.duration_ms for t in py_tasks],
                                  0.5) / 1e3,
        "python.task_max_s": max((t.duration_ms for t in py_tasks),
                                 default=0) / 1e3,
    }


def driver_only_s(log: EventLog, start_s: float, end_s: float) -> float:
    """Seconds of [start_s, end_s] during which no job ran: the time the
    driver spent on its own (planning, listing, collecting)."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    spans = sorted((max(lo, t), min(hi, log.job_ends.get(j, hi)))
                   for j, (t, _) in log.jobs.items()
                   if t < hi and log.job_ends.get(j, hi) > lo)
    busy, reach = 0.0, lo
    for a, b in spans:
        a = max(a, reach)
        if b > a:
            busy += b - a
            reach = b
    return (hi - lo - busy) / 1000.0


def median_metrics(rows: list[dict]) -> dict:
    """Per-key median over several windows (one per traced pass)."""
    if not rows:
        return {}
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def progress_metrics(progress: list[dict]) -> dict:
    """Streaming numbers from ``StreamingQueryProgress`` JSON records of
    one or more queries: micro-batches that read input, time in
    ``addBatch`` (the sink's batch job) against the whole trigger, and
    the largest state-store footprint."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    add = sum(p["durationMs"].get("addBatch", 0) for p in progress)
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    state_rows = state_mem = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        state_rows = max(state_rows, sum(o["numRowsTotal"] for o in ops))
        state_mem = max(state_mem, sum(o["memoryUsedBytes"] for o in ops))
    return {"stream.micro_batches": len(batches),
            "stream.add_batch_s": add / 1e3,
            "stream.trigger_overhead_s": (trig - add) / 1e3,
            "stream.state_rows": state_rows,
            "stream.state_memory_bytes": state_mem}
