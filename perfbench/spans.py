"""In-memory spans and the Spark metrics reader for the traced run.

A span records name, start, end, parent span and op id. Spans are kept in
a list and written out once, when the run ends. `Layers.layer` wraps one
layer action: it times the call and, after it, reads what Spark recorded
for the SQL executions the action started — stage task metrics from the
status store and SQL node metrics from the final adaptive plan graph,
as the status store's listener aggregated them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, op_id: int | str) -> dict[str, float]:
        """Per span name, the summed self time (duration minus the time
        covered by child spans) within one op."""
        spans = [s for s in self.spans if s["op"] == op_id]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str, spark_by_op: dict) -> None:
        """Spans, and Spark's numbers for each layer action by op id."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "spark": {str(k): v for k, v in spark_by_op.items()}}, f)


# SQL node metric names as Spark 4.1 labels them
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SCAN_BYTES = "size of files read"
_READ = {_PY_TIME, _PY_SENT, _PY_RECV, _SCAN_BYTES, "number of output rows"}

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """The total of one SQL metric as the status store renders it:
    `'12,000'`, `'393.1 KiB'`, `'30 ms'`, or a `total (min, med, max ...)`
    header over `'10.6 s (2.4 s, ...)'`. Sizes come back in bytes, times
    in seconds."""
    total = text.strip().splitlines()[-1].split(" (", 1)[0].replace(",", "")
    num, _, unit = total.partition(" ")
    return float(num) * (_UNITS[unit] if unit else 1)


def _plus(a, b):
    return None if a is None or b is None else a + b


class SparkMetrics:
    """Reads Spark's own bookkeeping after an action, in this process:
    the SQL status store lists each execution's jobs, its final plan
    graph and the SQL metric totals its listener aggregated; the core
    status store holds per-stage task metrics. A SQL metric is only
    reported when the plan holds the node that produces it, so a layer
    whose Python or scan node went missing shows as missing, not as 0."""

    def __init__(self, spark):
        self.spark = spark
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.cores = spark.sparkContext.defaultParallelism

    def _execution_ids(self) -> list[int]:
        execs = self._sql.executionsList()
        return [int(execs.apply(i).executionId()) for i in range(execs.size())]

    def mark(self) -> int:
        ids = self._execution_ids()
        return max(ids) if ids else -1

    def since(self, mark: int) -> dict:
        """Totals over every SQL execution started after `mark`. The status
        stores are filled from the listener bus, asynchronously: drain it
        first, or the last stages read as partly recorded."""
        self._bus.waitUntilEmpty()
        out = {"tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
        for eid in (e for e in self._execution_ids() if e > mark):
            ui = self._sql.execution(eid).get()
            jobs = ui.jobs().keySet().iterator()
            while jobs.hasNext():
                jd = self._core.job(jobs.next())
                sids = jd.stageIds()
                for k in range(sids.size()):
                    self._add_stage(out, int(sids.apply(k)))
            self._add_plan(out, eid)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        sd = self._core.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            return
        out["tasks"] += int(sd.numCompleteTasks())
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["gc_s"] += sd.jvmGcTime() / 1000.0
        out["shuffle_bytes"] += int(sd.shuffleWriteBytes())
        out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())

    def _add_plan(self, out: dict, eid: int) -> None:
        totals = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            metrics = node.metrics()
            vals = {}
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() not in _READ:
                    vals[m.name()] = None
                    continue
                text = totals.get(m.accumulatorId())
                vals[m.name()] = metric_value(text.get()) if text.isDefined() else None
            if name.startswith("ArrowEvalPython") or name.startswith("MapInPandas"):
                got = {
                    "python_s": vals.get(_PY_TIME),
                    "arrow_bytes": _plus(vals.get(_PY_SENT), vals.get(_PY_RECV)),
                    "arrow_rows": vals.get("number of output rows"),
                }
            elif name.startswith("Scan") and "number of files read" in vals:
                got = {"scan_bytes": vals.get(_SCAN_BYTES)}
            else:
                continue
            for key, v in got.items():
                # a node the plan holds but whose metric has no total
                # poisons the key: the layer reads as missing, not as 0
                out[key] = _plus(out.get(key, 0), v)


class NoLayers:
    """Stand-in for `Layers` in untraced ops: no spans, no reads."""

    def layer(self, name: str):
        return nullcontext()


class Layers:
    """Times the layer actions of traced ops and keeps Spark's numbers for
    each, by op id and span name."""

    def __init__(self, tracer: Tracer, metrics: SparkMetrics):
        self.tracer = tracer
        self.metrics = metrics
        self.spark_by_op: dict = {}

    @contextmanager
    def layer(self, name: str):
        mark = self.metrics.mark()
        with self.tracer.span(name):
            yield
        got = self.metrics.since(mark)
        acc = self.spark_by_op.setdefault(self.tracer.op_id, {}).setdefault(name, {})
        for k, v in got.items():
            acc[k] = _plus(acc.get(k, 0), v)
