"""Spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine (no hooks inside ``etl_template_spark``).  They are kept in memory
and written once, when the run ends.  A layer's self time is its span's
duration minus the time its child spans cover; spans are strictly nested
(the load is one closed-loop client), so the children's durations sum to
the covered interval.

``SparkProbe`` reads what Spark itself recorded: jobs and stages from the
core status store, per-operator SQL metrics from the SQL status store, and
cached-block counts from the storage view.  Every read first drains the
listener bus, because the stores are filled asynchronously.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Physical node names (as the SQL status store's plan graph labels them)
# rolled up into the operator types the benchmark reports.
OP_TYPES = (
    "HashAggregate", "SortAggregate", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastHashJoin", "Exchange", "Sort", "Window", "Generate",
    "FileScan", "InMemoryTableScan", "ArrowEvalPython",
)

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - covered[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric in base units (rows, bytes or
    milliseconds).  Aggregated metrics read ``"total (min, med, max ...)
    \\n<total> (...)"``; plain sums read ``"1,234"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    token = text.split(" (", 1)[0].strip()
    num, _, unit = token.partition(" ")
    value = float(num.replace(",", ""))
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * _TIME_MS.get(unit, 1.0)


def plan_counts(df) -> dict[str, int]:
    """Node counts of ``df``'s physical plan (forces planning)."""
    text = df._jdf.queryExecution().executedPlan().treeString()
    return {
        "exchanges": len(re.findall(r"(?<![A-Za-z])Exchange (?:hash|range|Single|Round)", text)),
        "sort_aggregates": text.count("SortAggregate"),
        "smj": text.count("SortMergeJoin"),
        "broadcasts": text.count("BroadcastExchange"),
    }


class SparkProbe:
    """Counters from Spark's own status stores, read between operations."""

    STAGE_FIELDS = {
        "executorRunTime": "task_run_ms",
        "executorCpuTime": "task_cpu_ns",
        "jvmGcTime": "gc_ms",
        "shuffleWriteBytes": "shuffle_write_bytes",
        "shuffleReadBytes": "shuffle_read_bytes",
        "memoryBytesSpilled": "spill_bytes",
        "diskBytesSpilled": "spill_bytes",
        "numCompleteTasks": "tasks",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._as_java = gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        self.drain()
        jobs = [j.jobId() for j in _seq(self._store.jobsList(None))]
        execs = [e.executionId() for e in _seq(self._sql.executionsList())]
        return (max(jobs, default=-1), max(execs, default=-1))

    def since(self, mark: tuple[int, int]) -> dict:
        """Jobs, stages, task totals and per-operator rows/time recorded
        after ``mark``."""
        self.drain()
        out: dict = defaultdict(float)
        jobs = [j for j in _seq(self._store.jobsList(None)) if j.jobId() > mark[0]]
        out["jobs"] = len(jobs)
        stage_ids = {int(s) for j in jobs for s in _seq(j.stageIds())}
        for sid in stage_ids:
            attempts = _seq(
                self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            )
            if any(sd.numCompleteTasks() > 0 for sd in attempts):
                out["stages"] += 1
            for sd in attempts:
                for getter, key in self.STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)()
        ops: dict = defaultdict(float)
        for ex in _seq(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= mark[1]:
                continue
            values = dict(self._as_java(self._sql.executionMetrics(eid)))
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                op = _op_type(node.name())
                if op is None:
                    continue
                ops[f"{op}.nodes"] += 1
                for m in _seq(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    if m.name() == "number of output rows":
                        ops[f"{op}.rows"] += parse_metric(text)
                    elif m.metricType() in ("timing", "nsTiming"):
                        ops[f"{op}.time_ms"] += parse_metric(text)
        out["ops"] = dict(ops)
        return dict(out)

    def cached_rdds(self) -> int:
        """Cached RDDs holding at least one materialized partition."""
        self.drain()
        return sum(1 for r in _seq(self._store.rddList(True)) if r.numCachedPartitions() > 0)


def exec_metrics(stats: list[dict], exec_s: float, cores: int) -> tuple[dict, dict]:
    """``exec.*`` and ``op.*`` metrics summed over ``SparkProbe.since``
    results, plus the summed per-operator counters."""
    tot: dict = defaultdict(float)
    ops: dict = defaultdict(float)
    for st in stats:
        for key, value in st.items():
            if key == "ops":
                for op_key, v in value.items():
                    ops[op_key] += v
            else:
                tot[key] += value
    out = {
        "exec.s": exec_s,
        "exec.jobs": tot["jobs"],
        "exec.stages": tot["stages"],
        "exec.tasks": tot["tasks"],
        "exec.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "exec.spill_bytes": tot["spill_bytes"],
        "exec.task_run_s": tot["task_run_ms"] / 1e3,
        "exec.task_cpu_s": tot["task_cpu_ns"] / 1e9,
        "exec.gc_s": tot["gc_ms"] / 1e3,
        "exec.core_util": tot["task_run_ms"] / 1e3 / (exec_s * cores) if exec_s else 0.0,
    }
    for op in OP_TYPES:
        out[f"op.{op}.rows"] = ops[f"{op}.rows"]
        out[f"op.{op}.time_ms"] = ops[f"{op}.time_ms"]
    return out, ops


def _op_type(node_name: str) -> str | None:
    if node_name.startswith("Scan ") and "ExistingRDD" not in node_name:
        return "FileScan"
    return node_name if node_name in OP_TYPES else None
