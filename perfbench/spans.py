"""Spans around the benchmark's calls into each ddspark layer, and the SQL
metrics Spark recorded in an executed plan.

Spans are kept in memory and written once, at exit.  Each has a name,
start, end, parent span and query id.  With tracing off, :meth:`Tracer.span`
records nothing and costs one attribute check.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, query_id: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "query_id": query_id if query_id is not None else (
                parent["query_id"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


# the SQL metrics read per physical operator; everything else is skipped
_SCAN = ("scanTime", "numFiles", "numOutputRows")
_AGG = ("aggTime", "numOutputRows")
_EXCHANGE = ("shuffleBytesWritten", "shuffleRecordsWritten")
_PYTHON = ("pythonDataSent", "pythonTotalTime", "pythonBootTime", "pythonInitTime")
_STAGE_WRAPPERS = {
    "ShuffleQueryStageExec", "BroadcastQueryStageExec",
    "TableCacheQueryStageExec", "ResultQueryStageExec",
}


def _read(node, names) -> dict:
    out = {}
    metrics = node.metrics()
    for n in names:
        opt = metrics.get(n)
        if not opt.isEmpty():
            out[n] = opt.get().value()
    return out


def plan_metrics(df) -> dict:
    """Layer counters summed over the final (post-AQE) physical plan of
    ``df``, which must already have run an action.

    A hash aggregate is map-side when it shares a stage with a file scan,
    i.e. no exchange lies between them: that is the cells partial
    aggregation.
    """
    tot = {k: 0 for k in (
        "scan.time_ms", "scan.files", "scan.rows", "agg.partial_agg_time_ms",
        "agg.cells_out", "exchange.shuffle_bytes", "exchange.shuffle_records",
        "python.data_sent_bytes", "python.total_ms", "python.boot_ms",
    )}

    def visit(node) -> bool:
        """Walk ``node``; True when a scan is reachable within its stage."""
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(node.finalPhysicalPlan())
        if cls in _STAGE_WRAPPERS:
            visit(node.plan())
            return False
        children = node.children()
        reach = False
        for i in range(children.size()):
            reach |= visit(children.apply(i))
        if cls == "FileSourceScanExec":
            m = _read(node, _SCAN)
            tot["scan.time_ms"] += m.get("scanTime", 0)
            tot["scan.files"] += m.get("numFiles", 0)
            tot["scan.rows"] += m.get("numOutputRows", 0)
            return True
        if cls == "HashAggregateExec" and reach:
            m = _read(node, _AGG)
            tot["agg.partial_agg_time_ms"] += m.get("aggTime", 0)
            tot["agg.cells_out"] += m.get("numOutputRows", 0)
        elif cls == "ShuffleExchangeExec":
            m = _read(node, _EXCHANGE)
            tot["exchange.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            tot["exchange.shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            return False
        elif "Python" in cls or "Pandas" in cls:
            m = _read(node, _PYTHON)
            tot["python.data_sent_bytes"] += m.get("pythonDataSent", 0)
            tot["python.total_ms"] += m.get("pythonTotalTime", 0)
            tot["python.boot_ms"] += m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)
        return reach

    visit(df._jdf.queryExecution().executedPlan())
    return tot
