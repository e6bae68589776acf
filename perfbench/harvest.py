"""Per-call counters read from Spark's own status stores.

Every SQL execution a call starts is attributed to that call, not
only the last one: an operator may run eager executions while its
DataFrame is built (a checkpoint, a collect of centroids), and the
final action's execution then shows none of that work. The harvester
notes the highest execution id before the call and, after it, reads
every execution with a higher id.

Sources, all readable with the UI disabled:

- the SQL status store (``sharedState().statusStore()``): per-operator
  SQL metrics of each execution, keyed by plan-graph node;
- the app status store (``SparkContext.statusStore()``): task time,
  CPU, GC, shuffle and spill totals of each stage the execution ran.

SQL metrics come from the store as display strings ("1.2 MiB",
"340 ms"); :func:`parse_metric` turns them back into bytes, seconds
or counts. Size and timing strings carry one decimal, so those
counters are rounded the same way on every run.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

PYTHON_METRICS = {
    "time to start Python workers": "operators.python.boot_s",
    "time to initialize Python workers": "operators.python.init_s",
    "time to run Python workers": "operators.python.run_s",
    "data sent to Python workers": "operators.python.bytes_sent",
    "data returned from Python workers": "operators.python.bytes_received",
}

# Counters summed over executions; each starts at 0 so a layer the
# workload never touches reads 0, not missing.
COUNTERS = (
    "operators.sql_execs",
    "operators.jobs", "operators.stages", "operators.tasks",
    "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s",
    "operators.shuffle_write_bytes", "operators.spill_bytes",
    "operators.broadcast_bytes", "operators.broadcast_build_s",
    "operators.codegen_s",
    *PYTHON_METRICS.values(),
    "schemas.scan_s", "schemas.files_bytes_read", "schemas.scan_rows",
    "plans.broadcast_joins",
    "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
)


def parse_metric(text: str, metric_type: str) -> float:
    """A status-store metric string as a number (bytes, seconds, count).

    Multi-task metrics read "total (min, med, max ...)\\n<total> (...)";
    the total is the first value of the last line.
    """
    line = text.strip().splitlines()[-1].split(" (")[0].strip()
    if metric_type == "sum":
        return float(line.replace(",", ""))
    number, unit = line.split()
    if metric_type == "size":
        return float(number) * _SIZE[unit]
    if metric_type in ("timing", "nsTiming"):
        return float(number) * _TIME[unit]
    raise ValueError(f"unhandled metric type {metric_type!r}")


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Execution:
    """One SQL execution: its plan-graph nodes with parsed metrics, and
    the stages it ran."""

    id: int
    description: str
    duration_s: float
    jobs: int
    nodes: list[tuple[str, dict[str, float]]] = field(default_factory=list)
    stages: list[dict[str, float]] = field(default_factory=list)

    @property
    def is_write(self) -> bool:
        return any("number of written files" in m for _, m in self.nodes)


class Harvester:
    def __init__(self, spark) -> None:
        self._sc = spark._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def mark(self) -> int:
        """The highest execution id so far (-1 before the first)."""
        return max((x.executionId() for x in _iter(self._sql.executionsList())), default=-1)

    def since(self, mark: int, timeout_s: float = 60.0) -> list[Execution]:
        """Every execution with an id above ``mark``, once the store
        holds its final state.

        The listener bus delivers an execution's end event, but the SQL
        status listener aggregates the metrics and writes the finished
        execution to the store on a thread of its own, so the store is
        polled until each execution shows a completion time and its
        metric values.
        """
        self._sc.listenerBus().waitUntilEmpty()
        deadline = time.monotonic() + timeout_s
        while True:
            execs = [x for x in _iter(self._sql.executionsList()) if x.executionId() > mark]
            done = [x for x in execs
                    if x.completionTime().isDefined() and x.metricValues() is not None]
            if len(done) == len(execs) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        return sorted((self._read(x) for x in done), key=lambda e: e.id)

    def _read(self, x) -> Execution:
        eid = x.executionId()
        values = self._sql.executionMetrics(eid)
        ex = Execution(
            id=eid,
            description=x.description(),
            duration_s=(x.completionTime().get().getTime() - x.submissionTime()) / 1000.0,
            jobs=x.jobs().size(),
        )
        for node in _iter(self._sql.planGraph(eid).allNodes()):
            metrics = {}
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined() and m.metricType() != "average":
                    metrics[m.name()] = parse_metric(v.get(), m.metricType())
            ex.nodes.append((node.name().strip(), metrics))
        for sid in _iter(x.stages()):
            sd = self._app.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue
            ex.stages.append({
                "tasks": sd.numCompleteTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            })
        return ex


def summarize(execs: list[Execution]) -> dict[str, float]:
    """Sum the layer counters over ``execs``."""
    out: dict[str, float] = defaultdict(float, {k: 0.0 for k in COUNTERS})
    for ex in execs:
        out["operators.sql_execs"] += 1
        out["operators.jobs"] += ex.jobs
        for st in ex.stages:
            out["operators.stages"] += 1
            out["operators.tasks"] += st["tasks"]
            out["operators.task_run_s"] += st["run_s"]
            out["operators.task_cpu_s"] += st["cpu_s"]
            out["operators.gc_s"] += st["gc_s"]
            out["operators.shuffle_write_bytes"] += st["shuffle_write_bytes"]
            out["operators.spill_bytes"] += st["spill_bytes"]
        for name, m in ex.nodes:
            if name == "BroadcastExchange":
                out["operators.broadcast_bytes"] += m.get("data size", 0.0)
                out["operators.broadcast_build_s"] += m.get("time to build", 0.0)
            elif name.startswith("WholeStageCodegen"):
                out["operators.codegen_s"] += m.get("duration", 0.0)
            elif name.startswith("Scan ") and name != "Scan ExistingRDD":
                out["schemas.scan_s"] += m.get("scan time", 0.0)
                out["schemas.files_bytes_read"] += m.get("size of files read", 0.0)
                out["schemas.scan_rows"] += m.get("number of output rows", 0.0)
            elif re.match(r"Broadcast(Hash|NestedLoop)Join", name):
                out["plans.broadcast_joins"] += 1
            for metric, key in PYTHON_METRICS.items():
                out[key] += m.get(metric, 0.0)
            out["sinks.bytes_written"] += m.get("written output", 0.0)
            out["sinks.files_written"] += m.get("number of written files", 0.0)
        if ex.is_write:
            out["sinks.write_s"] += ex.duration_s
    return dict(out)
