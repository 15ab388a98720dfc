"""Spans and per-layer counts, read from outside the engine.

Spans are recorded only around the benchmark's own calls into the
engine (``query:<name>`` → ``plans.build`` / ``plans.optimize`` /
``exec.sink``). Their children come from Spark's status stores after
the fact: each SQL execution with its submission and completion time,
its jobs and stages (task time, shuffle, spill, GC) and its final plan
graph (node counts and SQL metrics). Stream micro-batches come from a
``StreamingQueryListener``. Everything stays in memory until
:meth:`Tracer.write` at the end of the run.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# Plan-graph node names of the Python evaluation operators: the rows
# and bytes they move are the ones that cross the Arrow boundary.
PYTHON_NODES = re.compile(r"Python|InPandas|InArrow")
JOIN_NODES = re.compile(r"Join$|CartesianProduct")
# A micro-batch's executions carry the stream's id and run id in their
# description; they count as stream batches, not as driver round-trips.
MICRO_BATCH = re.compile(r"\nrunId = ")
_LABEL = re.compile(r'label="(.*?)" tooltip=')
_MULTI_TASK = " total (min, med, max (stageId: taskId))"
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")
_SCALE = {
    None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
# SQL metric name → per-layer total it feeds (seconds or count).
NODE_METRICS = {
    "time in aggregation build": "operators.agg_build_s",
    "sort time": "operators.sort_s",
    "time to build hash map": "operators.join_build_s",
    "time to build": "operators.join_build_s",
    "data sent to Python workers": "functions.python_bytes",
    "data returned from Python workers": "functions.python_bytes",
}


def metric_value(text: str) -> float:
    """The total of a status-store metric string, in seconds, bytes or
    units: ``"1.2 s"``, ``"16.2 MiB"``, ``"10,000"``, or the multi-task
    form ``"total (min, med, max (stageId: taskId))\\n1.2 s (…)"``."""
    m = _VALUE.search(text.split("taskId))", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric name: value}) for each node of a plan-graph
    DOT dump, as ``SparkPlanGraph.makeDotFile`` renders it: a metric is
    either ``name: value`` or, summed over several tasks,
    ``name total (min, med, max (stageId: taskId))`` with its value on
    the next line."""
    nodes = []
    for label in _LABEL.findall(dot):
        head = re.search(r"<b>(.*?)</b>", label)
        if head is None:
            continue
        metrics = {}
        parts = iter(label.split("<br>"))
        for part in parts:
            if part.endswith(_MULTI_TASK):
                metrics[part[: -len(_MULTI_TASK)]] = metric_value(next(parts, ""))
                continue
            name, sep, value = part.partition(": ")
            if sep and "<b>" not in name:
                metrics[name] = metric_value(value)
        nodes.append((head.group(1), metrics))
    return nodes


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class ProgressCollector(StreamingQueryListener):
    """Keeps every micro-batch progress event as a dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Span store plus the harvest of Spark's status stores."""

    def __init__(self, spark) -> None:
        self.spans: list[dict] = []
        self.progress = ProgressCollector()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sc = spark.sparkContext._jsc.sc()
        self._core = self._sc.statusStore()
        self._seen_exec = -1
        # largest join output of each traced query, by query span name
        self.join_rows: dict[str, float] = {}

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event: the
        status stores and the progress listener are fed through it, so
        an execution's end, its stage metrics and the last micro-batch
        progress can still be queued when the call that ran them returns."""
        self._sc.listenerBus().waitUntilEmpty()

    def begin(self) -> None:
        """Start a traced stretch: executions before it are not harvested."""
        self.drain()
        execs = self._sql.executionsList()
        if execs.size():
            self._seen_exec = max(execs.apply(i).executionId() for i in range(execs.size()))
        self.progress.events.clear()

    def _new_executions(self) -> list:
        execs = self._sql.executionsList()
        out = [execs.apply(i) for i in range(execs.size())]
        out = [e for e in out if e.executionId() > self._seen_exec]
        if out:
            self._seen_exec = max(e.executionId() for e in out)
        return out

    def harvest(self, query_spans: list[int]) -> dict[str, float]:
        """Attach the SQL executions finished since the last harvest to
        the phase spans of ``query_spans`` and total their layer counts."""
        t0 = time.perf_counter()
        self.drain()
        tot: dict[str, float] = defaultdict(float)
        phases = [s for s in self.spans if s["parent"] in set(query_spans)]
        stages_seen: set[int] = set()
        exec_spans: dict[int, list[tuple[float, float]]] = defaultdict(list)
        shapes: dict[str | None, dict[str, float]] = {}
        for e in self._new_executions():
            start = e.submissionTime() / 1000.0
            done = e.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            owner = next((p for p in phases if p["start"] <= start <= p["end"]), None)
            sid = self.span(
                "sql.execution", start, end,
                parent=owner["id"] if owner else None, execution_id=e.executionId(),
            )
            if owner is not None:
                exec_spans[owner["id"]].append((start, end))
            if not MICRO_BATCH.search(e.description()):
                tot["plans.sql_exec"] += 1
            self._add_jobs(e, sid, tot, stages_seen)
            # A query's plan shape is that of its largest execution: a
            # stream runs the same plan once per micro-batch.
            query = self.spans[owner["parent"]]["name"] if owner else None
            shape = shapes.setdefault(query, defaultdict(float))
            for k, v in self._add_plan(e, tot).items():
                shape[k] = max(shape[k], v)
        for query, shape in shapes.items():
            tot["plans.sort_aggregates"] += shape["sort_aggregates"]
            tot["plans.python_eval_nodes"] += shape["python_eval_nodes"]
            if query is not None and shape["joined"]:
                self.join_rows[query] = max(self.join_rows.get(query, 0.0), shape["joined"])
        for p in phases:
            cov = covered(exec_spans[p["id"]], p["start"], p["end"])
            p["self_s"] = p["end"] - p["start"] - cov
            if p["name"] == "plans.build":
                tot["plans.build_self_s"] += p["self_s"]
                tot["plans.eager_exec_s"] += cov
            elif p["name"] == "plans.optimize":
                tot["plans.optimize_s"] += p["end"] - p["start"]
        tot["trace.collect_s"] = time.perf_counter() - t0
        return dict(tot)

    def _add_jobs(self, e, parent: int, tot: dict, stages_seen: set[int]) -> None:
        jobs = e.jobs().keysIterator()
        while jobs.hasNext():
            job = self._core.job(jobs.next())
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                self.span(
                    "spark.job", sub.get().getTime() / 1000.0,
                    done.get().getTime() / 1000.0 if done.isDefined() else sub.get().getTime() / 1000.0,
                    parent=parent, job_id=job.jobId(),
                )
            ids = job.stageIds().iterator()
            while ids.hasNext():
                stage_id = ids.next()
                if stage_id in stages_seen:
                    continue
                stages_seen.add(stage_id)
                s = self._core.lastStageAttempt(stage_id)
                tot["operators.task_busy_s"] += s.executorRunTime() / 1000.0
                tot["operators.gc_s"] += s.jvmGcTime() / 1000.0
                tot["operators.shuffle_bytes"] += s.shuffleWriteBytes()
                tot["operators.shuffle_records"] += s.shuffleWriteRecords()
                tot["operators.spill_bytes"] += s.diskBytesSpilled()
                tot["operators.failed_tasks"] += s.numFailedTasks()
                tot["sources.scan_rows"] += s.inputRecords()
                tot["sources.scan_bytes"] += s.inputBytes()
                tot["operators.peak_memory_bytes"] = max(
                    tot["operators.peak_memory_bytes"], s.peakExecutionMemory()
                )

    def _add_plan(self, e, tot: dict) -> dict[str, float]:
        """Add the SQL metrics of ``e``'s final plan to ``tot``; returns
        the plan's shape: its SortAggregate and Python evaluation node
        counts and the largest output of any join node in it."""
        eid = e.executionId()
        dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
        shape = {"sort_aggregates": 0.0, "python_eval_nodes": 0.0, "joined": 0.0}
        for name, metrics in parse_plan_dot(dot):
            if JOIN_NODES.search(name):
                shape["joined"] = max(shape["joined"], metrics.get("number of output rows", 0.0))
            if name == "SortAggregate":
                shape["sort_aggregates"] += 1
            if PYTHON_NODES.search(name):
                shape["python_eval_nodes"] += 1
                tot["functions.python_rows"] += metrics.get("number of output rows", 0.0)
            for metric, key in NODE_METRICS.items():
                if metric in metrics and (key != "functions.python_bytes" or PYTHON_NODES.search(name)):
                    tot[key] += metrics[metric]
        return shape

    def stream_totals(self) -> dict[str, float]:
        """Layer totals of the micro-batches reported since the last
        call, from the listener's progress events."""
        self.drain()
        tot: dict[str, float] = defaultdict(float)
        events, self.progress.events = self.progress.events, []
        for p in events:
            d = p.get("durationMs") or {}
            tot["streaming.batches"] += 1
            tot["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            tot["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1000.0
            tot["streaming.wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            ops = p.get("stateOperators") or []
            tot["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
            tot["streaming.state_rows"] = max(
                tot["streaming.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops)
            )
            tot["streaming.state_memory_bytes"] = max(
                tot["streaming.state_memory_bytes"], sum(o.get("memoryUsedBytes", 0) for o in ops)
            )
        return dict(tot)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
