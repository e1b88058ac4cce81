"""Spans and Spark status-store reads for the traced run.

The traced run attributes Spark work to the benchmark's own steps by
job group: every step that can fire jobs runs under the group
``<pass id>/<query>/<step>``. After a pass, :class:`StoreReader`
reads the jobs, stages and SQL executions Spark recorded for that
pass's groups and folds them into per-layer totals.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory until :meth:`dump`, once, at the end of a run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, pass_id: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, pass_id, attrs)
        self.spans.append(span)
        self._stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        assert self._stack.pop() == span.id, "spans must close innermost first"

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name, summed: a span's duration minus the
    part of it that its children cover. Children of one parent run one
    after another, so their union is the sum of their durations."""
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - covered.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_number(text: str) -> float:
    """Total of a SQL metric as the status store renders it: ``1,234``,
    ``648.6 KiB``, or ``total (min, med, max ...)\\n154.5 KiB (...)``."""
    total = text.rsplit("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", total)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"
ROWS = "number of output rows"
#: on-disk size of the files a scan node selected. Spark 4's parquet
#: reader fetches column chunks with Hadoop vectored reads, which the
#: stages' ``inputBytes`` does not see (it keeps only the footer
#: reads), so file input is taken from the scan nodes instead.
FILES_READ = "size of files read"


class StoreReader:
    """py4j reads of the application status store (stages, jobs) and
    the SQL status store (plan graphs, node metrics). Objects are
    serialised to JSON on the JVM side, so one read is one py4j call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gateway = sc._gateway
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._quantiles = self._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def last_execution_id(self) -> int:
        return int(self._sql.executionsCount()) - 1

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        """Every retained stage attempt, with the median and maximum
        task run time in ``taskMetricsDistributions``."""
        return self._json(self._store.stageList(None, False, True, self._quantiles, None))

    def executions(self, first_id: int, last_id: int) -> list[dict]:
        """Node-metric totals of SQL executions first_id..last_id, one
        dict per execution with its job ids: file bytes the scans
        selected, and at the Arrow boundary, rows and bytes sent to
        Python workers and bytes returned."""
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        out = []
        for eid in range(first_id, last_id + 1):
            execution = self._sql.execution(eid)
            values = self._json(self._sql.executionMetrics(eid))
            if not execution.isDefined() or not values:
                continue
            totals = {
                "jobs": [int(j) for j in conv.asJava(execution.get().jobs()).keySet()],
                "files_read_bytes": 0.0,
                "rows_to_python": 0.0, "bytes_to_python": 0.0, "bytes_from_python": 0.0,
            }
            graph = self._sql.planGraph(eid)
            nodes = {}
            for node in conv.asJava(graph.allNodes()):
                nodes[node.id()] = {
                    m.name(): values.get(str(m.accumulatorId()), "0")
                    for m in conv.asJava(node.metrics())
                }
            for node_id, metrics in nodes.items():
                totals["files_read_bytes"] += metric_number(metrics.get(FILES_READ, "0"))
                if PYTHON_SENT not in metrics:
                    continue
                totals["bytes_to_python"] += metric_number(metrics[PYTHON_SENT])
                totals["bytes_from_python"] += metric_number(metrics.get(PYTHON_RECEIVED, "0"))
                for edge in conv.asJava(graph.edges()):
                    if edge.toId() == node_id:
                        child = nodes.get(edge.fromId(), {})
                        totals["rows_to_python"] += metric_number(child.get(ROWS, "0"))
            out.append(totals)
        return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Per-layer execution totals over a set of stage attempts."""
    ran = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
    skew = 1.0
    for s in ran:
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if s["numTasks"] >= 2 and dist and dist[0] > 0:
            skew = max(skew, dist[1] / dist[0])
    wait_ms = sum(
        s["firstTaskLaunchedTime"] - s["submissionTime"]
        for s in ran
        if s.get("firstTaskLaunchedTime") and s.get("submissionTime")
    )
    return {
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
        "run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "stage_wait_s": wait_ms / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in ran),
        "output_bytes": sum(s["outputBytes"] for s in ran),
        "task_skew": skew,
        "failed_tasks": sum(s["numFailedTasks"] for s in ran),
    }

