"""Per-layer counters read from Spark's in-process status store.

Everything here goes through py4j to the driver JVM: job and stage data
from ``AppStatusStore``, Python-worker SQL metrics from
``SQLAppStatusStore``, persisted RDDs from the storage listener. These
listeners run with ``spark.ui.enabled=false``, so no UI and no extra
dependency are needed. The listener bus is asynchronous, so every read
first waits for it to drain.

Job, stage and SQL-execution ids only grow. A ``mark()`` taken before a
phase and a read "since" that mark after it select exactly that phase's
work, because the benchmark keeps one operation in flight at a time.
"""

from __future__ import annotations

import re

# Sums over v1.StageData; the store keeps times in milliseconds except
# executorCpuTime, which is in nanoseconds.
_STAGE_FIELDS = {
    "spark.tasks": ("numTasks", 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.input_bytes": ("inputBytes", 1),
}
STAGE_METRICS = (
    "spark.jobs", "spark.stages", "spark.failed_tasks", "spark.spill_bytes",
    *_STAGE_FIELDS,
)

# Display names of Spark 4.1's PythonSQLMetrics -> metric names here.
_PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
PYTHON_METRICS = tuple(_PYTHON_SQL_METRICS.values())

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric_value(text: str) -> float:
    """Total of one SQL metric as the status store renders it.

    A metric several tasks updated reads
    ``"total (min, med, max ...)\\n4.2 s (1.0 s, ...)"``; one updated
    once reads ``"4.2 s"``. Times come back in seconds, sizes in bytes.
    """
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _TOTAL.match(line.strip())
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class StatusStore:
    """Reads of one SparkContext's status stores."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> dict:
        """Next job id, next stage id and SQL execution count."""
        self._bus.waitUntilEmpty()
        return {
            "job": self._dag.numTotalJobs(),
            "stage": self._dag.nextStageId(),
            "sql": self._sql.executionsCount(),
        }

    def jobs_started(self) -> int:
        """Jobs submitted so far. Ids are taken when a job is submitted,
        so this needs no wait for the listener bus."""
        return self._dag.numTotalJobs()

    def stage_totals_since(self, mark: dict) -> dict:
        """Sums over the jobs and stages started after ``mark``."""
        now = self.mark()
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        for job_id in range(mark["job"], now["job"]):
            job = self._store.job(job_id)
            out["spark.jobs"] += 1
            out["spark.failed_tasks"] += job.numFailedTasks()
        for stage_id in range(mark["stage"], now["stage"]):
            try:
                st = self._store.lastStageAttempt(stage_id)
            except Exception as exc:  # noqa: BLE001 — py4j error type
                # a stage id taken by a skipped stage never reaches the
                # store; anything else is a real failure
                if "NoSuchElementException" not in str(exc):
                    raise
                continue
            out["spark.stages"] += 1
            for name, (attr, scale) in _STAGE_FIELDS.items():
                out[name] += getattr(st, attr)() * scale
            out["spark.spill_bytes"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            )
        return out

    def python_totals_since(self, mark: dict) -> dict:
        """Python-worker SQL metrics of executions after ``mark``."""
        now = self.mark()
        out = dict.fromkeys(PYTHON_METRICS, 0.0)
        execs = self._sql.executionsList(mark["sql"], now["sql"] - mark["sql"])
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = ex.metricValues()
            if values is None:
                continue
            metrics = ex.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                name = _PYTHON_SQL_METRICS.get(metric.name())
                if name is None:
                    continue
                text = values.get(metric.accumulatorId())
                if text.isDefined():
                    out[name] += parse_metric_value(text.get())
        return out

    def pinned(self) -> dict:
        """Persisted RDDs and the bytes they hold, memory plus disk."""
        self._bus.waitUntilEmpty()
        rdds = self._store.rddList(True)
        held = 0.0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            held += r.memoryUsed() + r.diskUsed()
        return {"spark.persisted_rdds": float(rdds.size()),
                "spark.pinned_bytes": held}
