"""Spark event log on demand, and its rollup per job group.

Spark writes an event log only when ``spark.eventLog.enabled`` is set
before the context starts, for the whole life of the context.  The
benchmark wants one for a single traced pass, so :class:`EventLog`
attaches Spark's own ``EventLoggingListener`` to the running context
and detaches it afterwards.  The log is written uncompressed and
unrolled so :func:`rollup` can read it as one JSON-lines file.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: SQL metric names of Spark 4.1's ``PythonSQLMetrics`` and the rollup key
#: each one is summed into.  Timing metrics are milliseconds, sizes bytes.
PYTHON_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_boot_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_received_bytes",
}

ROLLUP_KEYS = (
    "jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
    "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "py_run_ms", "py_boot_ms", "py_sent_bytes", "py_received_bytes",
)


class EventLog:
    """An ``EventLoggingListener`` attached to a running SparkContext.

    Use as a context manager; on exit the listener bus is drained, the
    listener removed and the log closed, and :attr:`path` names the file.
    """

    def __init__(self, spark, log_dir: str, name: str):
        self._sc = spark.sparkContext
        self._dir = log_dir
        self._name = name
        self._listener = None
        self.path: str | None = None

    def __enter__(self) -> "EventLog":
        jvm = self._sc._jvm
        jsc = self._sc._jsc.sc()
        os.makedirs(self._dir, exist_ok=True)
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._name,
            jvm.scala.Option.empty(),
            jvm.java.io.File(self._dir).toURI(),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self._sc._jsc.sc()
        drain(self._sc)
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self.path = os.path.join(self._dir, self._name)


def drain(sc) -> None:
    """Wait until every listener has seen every event posted so far, so
    the status tracker and an attached event log are both up to date."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def rollup(path: str) -> dict[str | None, dict[str, float]]:
    """Sum the event log per job group (``None`` for untagged jobs).

    A stage or task belongs to the group of the job that submitted it.
    ``stages_skipped`` counts, as Spark's UI does, each stage a job lists
    but does not run because an earlier job already produced its output.
    """
    groups: dict[str | None, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(ROLLUP_KEYS, 0)
    )
    stage_group: dict[int, str | None] = {}
    listed: dict[str | None, int] = defaultdict(int)
    ran: dict[str | None, set[int]] = defaultdict(set)
    with open(path, encoding="utf-8") as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                group = _group(event)
                groups[group]["jobs"] += 1
                listed[group] += len(event["Stage IDs"])
            elif kind == "SparkListenerStageSubmitted":
                stage_group[event["Stage Info"]["Stage ID"]] = _group(event)
            elif kind == "SparkListenerStageCompleted":
                stage = event["Stage Info"]["Stage ID"]
                ran[stage_group.get(stage)].add(stage)
            elif kind == "SparkListenerTaskEnd":
                _add_task(groups[stage_group.get(event["Stage ID"])], event)
    for group, totals in groups.items():
        totals["stages"] = len(ran[group])
        totals["stages_skipped"] = max(0, listed[group] - len(ran[group]))
    return dict(groups)


def job_spans(path: str) -> dict[str | None, tuple[float, float]]:
    """Per job group, the first job's submission and the last job's
    completion, in seconds since the epoch on the driver JVM's clock."""
    job_group: dict[int, str | None] = {}
    spans: dict[str | None, tuple[float, float]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                group = job_group[event["Job ID"]] = _group(event)
                t = event["Submission Time"] / 1e3
                first, last = spans.get(group, (t, t))
                spans[group] = (min(first, t), last)
            elif kind == "SparkListenerJobEnd":
                group = job_group[event["Job ID"]]
                first, last = spans[group]
                spans[group] = (first, max(last, event["Completion Time"] / 1e3))
    return spans


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def _add_task(totals: dict[str, float], event: dict) -> None:
    totals["tasks"] += 1
    if event.get("Task End Reason", {}).get("Reason") != "Success":
        totals["failed_tasks"] += 1
    m = event.get("Task Metrics") or {}
    totals["run_ms"] += m.get("Executor Run Time", 0)
    totals["cpu_ns"] += m.get("Executor CPU Time", 0)
    totals["gc_ms"] += m.get("JVM GC Time", 0)
    totals["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    read = m.get("Shuffle Read Metrics") or {}
    totals["shuffle_read_bytes"] += read.get("Local Bytes Read", 0) + read.get(
        "Remote Bytes Read", 0
    )
    totals["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    for acc in event.get("Task Info", {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            totals[key] += int(acc["Update"])
