"""Per-operation work ledger read from Spark's status stores.

Works with the UI disabled: jobs and stages come from the application
status store (``SparkContext.statusStore``), SQL plan metrics from the
SQL status store (``sharedState.statusStore``), both over py4j. An
operation is the window between two markers; the benchmark runs one
client, so every job and SQL execution started in the window belongs to
the operation.
"""

from __future__ import annotations

import re

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
    "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_TIME = "time to run Python workers"
ROWS = "number of output rows"

COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


def parse_metric(text: str | None) -> float:
    """Parse a formatted SQL metric value ("1.4 s", "664.0 B", "1,024",
    or the multi-task form "total (min, med, max ...)\\n3.0 KiB (...)")
    into seconds, bytes or a count."""
    if not text:
        return 0.0
    m = _VALUE_RE.match(text.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Ledger:
    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = jsc

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def mark(self) -> tuple[int, int]:
        """(next job id, SQL executions recorded so far)."""
        return self._dag.numTotalJobs(), self._sql.executionsCount()

    def staged_bytes(self) -> int:
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self._jsc.getRDDStorageInfo()
        )

    def job_submit_ms(self, job_id: int) -> int | None:
        t = self._store.job(job_id).submissionTime()
        return int(t.get().getTime()) if t.isDefined() else None

    def work(self, m0: tuple[int, int], m1: tuple[int, int]) -> dict:
        """Counters for the jobs and SQL executions between two marks.
        Stages count only if they ran (skipped stages re-use shuffle
        output and do no work)."""
        out = dict.fromkeys(COUNTERS, 0)
        out.update(
            run_s=0.0, cpu_s=0.0, gc_s=0.0, peak_mem_bytes=0,
            delay_s=0.0, py_plans=0, py_rows_sent=0, py_bytes_sent=0,
            py_bytes_received=0, py_time_s=0.0,
        )
        stage_ids: set[int] = set()
        for jid in range(m0[0], m1[0]):
            out["jobs"] += 1
            stage_ids.update(self._list(self._store.job(jid).stageIds()))
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["peak_mem_bytes"] = max(out["peak_mem_bytes"], st.peakExecutionMemory())
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                out["delay_s"] += max(
                    0, first.get().getTime() - sub.get().getTime()
                ) / 1e3
        n_exec = m1[1] - m0[1]
        if n_exec > 0:
            for ex in self._list(self._sql.executionsList(m0[1], n_exec)):
                # one round trip to skip the plan-graph walk (hundreds of
                # them) on plans without a Python node
                if PY_SENT in ex.metrics().toString():
                    self._python(ex.executionId(), out)
        return out

    def _python(self, exec_id: int, out: dict) -> None:
        """Add the Python-worker boundary metrics of one SQL execution."""
        graph = self._sql.planGraph(exec_id)
        values = self._conv.asJava(self._sql.executionMetrics(exec_id))
        nodes = {}
        for node in self._list(graph.allNodes()):
            nodes[node.id()] = {
                m.name(): values.get(m.accumulatorId())
                for m in self._list(node.metrics())
            }
        inputs: dict[int, list[int]] = {}
        for e in self._list(graph.edges()):
            inputs.setdefault(e.toId(), []).append(e.fromId())
        found = False
        for nid, metrics in nodes.items():
            if PY_SENT not in metrics:
                continue
            found = True
            out["py_bytes_sent"] += parse_metric(metrics.get(PY_SENT))
            out["py_bytes_received"] += parse_metric(metrics.get(PY_RECEIVED))
            out["py_time_s"] += parse_metric(metrics.get(PY_TIME))
            child_rows = [
                nodes[c][ROWS] for c in inputs.get(nid, []) if ROWS in nodes.get(c, {})
            ]
            rows = child_rows if child_rows else [metrics.get(ROWS)]
            out["py_rows_sent"] += sum(parse_metric(r) for r in rows)
        out["py_plans"] += int(found)
