"""Tracing for the benchmark's traced run: spans around layer calls, Spark
job groups, an event-log parser and a reader for SQL metrics on executed
plans.

Spans are recorded from the benchmark's own files around the calls into
each package layer; nothing inside the package is instrumented. Each span
runs under its own Spark job group, so the event log attributes every job,
stage and task to the span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas", "PythonMapInArrow",
                "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans of one traced job; written out by :meth:`dump`."""
    spark: object
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, run_id=self.run_id)
        self._stack.append(name)
        sc.setJobGroup(self.group(name), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                sc.setJobGroup(self.group(parent), parent)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def checkpointed(self, name: str, fn, *args, **kwargs):
        """Call one layer function inside a span and force its DataFrame
        output with an eager localCheckpoint, so the span covers the layer's
        work. Returns (pre-checkpoint frame, checkpointed frame)."""
        with self.span(name):
            df = fn(*args, **kwargs)
            return df, df.localCheckpoint(eager=True)

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed span durations minus the parts covered
        by child spans."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kids = [(c.start, c.end) for c in self.spans if c.parent == s.name
                    and s.start <= c.start and c.end <= s.end]
            out[s.name] += s.duration - union_length(kids)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f, indent=1)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed event log under log_dir."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


def _events(log_dir: str, app_id: str):
    # 4.x writes a rolling directory eventlog_v2_<app>/events_<n>_<app>;
    # a plain file <app> is the non-rolling layout
    files = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}",
                                          "events_*")))
    files += glob.glob(os.path.join(log_dir, app_id))
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    executor_run_ms: int = 0
    job_intervals: list = field(default_factory=list)


def parse_event_log(log_dir: str, app_id: str) -> dict[str, GroupStats]:
    """Per-job-group task metrics of one application's event log."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for e in _events(log_dir, app_id):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            stats[g].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            stats[job_group.get(jid, "")].job_intervals.append(
                (job_start.get(jid, e["Completion Time"] / 1000.0),
                 e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            stats[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            st = stats[stage_group.get(e["Stage ID"], "")]
            st.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                st.tasks_failed += 1
            m = e.get("Task Metrics") or {}
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.executor_run_ms += m.get("Executor Run Time", 0)
    return stats


# ---------------------------------------------------------------------------
# SQL metrics on executed plans
# ---------------------------------------------------------------------------


def plan_nodes(df) -> list[dict]:
    """Flatten a DataFrame's executed physical plan into node dicts
    {name, single_partition, metrics}, descending through
    AdaptiveSparkPlan's current plan and its query stages. Read it after the
    frame's own action ran (a collect() or an eager localCheckpoint):
    count() and write build a new QueryExecution whose metrics are not on
    this frame."""
    out: list[dict] = []

    def walk(p):
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        cls = p.getClass().getSimpleName()
        single = (cls == "ShuffleExchangeExec" and p.outputPartitioning()
                  .getClass().getSimpleName().startswith("SinglePartition"))
        out.append({"name": p.nodeName(), "single_partition": single,
                    "metrics": metrics})
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        # a ReusedExchange is not descended: its exchange is counted where
        # it first runs
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(p.plan())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_counts(nodes: list[dict]) -> dict[str, int]:
    return {
        "exchanges": sum(n["name"] == "Exchange" for n in nodes),
        "broadcast_joins": sum(n["name"] == "BroadcastHashJoin" for n in nodes),
        "python_nodes": sum(n["name"] in PYTHON_NODES for n in nodes),
        "single_partition_exchanges": sum(n["single_partition"] for n in nodes),
    }


def python_metrics(nodes: list[dict]) -> dict[str, int]:
    """Arrow boundary metrics summed over the Python nodes of a plan:
    bytes sent to / returned from workers, rows returned and the time to
    run Python workers (ms)."""
    py = [n["metrics"] for n in nodes if n["name"] in PYTHON_NODES]
    return {k: sum(m.get(k, 0) for m in py) for k in
            ("pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived",
             "pythonTotalTime")}
