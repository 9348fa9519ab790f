"""Spark accounting read from the application's own status stores.

Nothing here runs a Spark job: it reads the core status store (jobs and
stages) and the SQL status store (per-operator metrics such as the Python
worker times) through py4j after the measured call has returned.

Jobs are found by diffing the job list around a call, not by job group:
the engine submits its commit writes from a ``ThreadPoolExecutor``, and a
job group set on the calling thread does not reach those threads (on the
golden crawl 18 of 66 jobs carried no group).
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from trace_spans import covered_seconds

# SQL metric name -> Accounting field (task-seconds summed over tasks)
_PY_TIMES = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}
_PY_METRIC = re.compile(
    r"SQLPlanMetric\((time to (?:start|initialize|run) Python workers),(\d+),"
)
_INTS = re.compile(r"\d+")
_SETTLE_S = 10.0  # longest wait for the listener bus to record job ends
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TIMING = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|min|m|h)\b")


def timing_seconds(text: str) -> float:
    """Total of a formatted SQL timing metric, in seconds.

    Spark renders a task-aggregated timing as
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (0 ms, ...)"`` and a
    single value as ``"1.2 s"``; the total is the first duration after the
    header line."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _TIMING.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


@dataclass
class JobRecord:
    job_id: int
    submit_s: float
    complete_s: float


@dataclass
class Accounting:
    """Totals over the jobs of one window."""

    jobs: list[JobRecord] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_start_s: float = 0.0
    py_init_s: float = 0.0
    py_run_s: float = 0.0

    def busy_seconds(self, start: float, end: float) -> float:
        """Length of [start, end] covered by at least one job."""
        return covered_seconds(
            (max(j.submit_s, start), min(j.complete_s, end)) for j in self.jobs
        )


class SparkStats:
    """Reads one SparkSession's status stores."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def last_job_id(self, before: float | None = None) -> int:
        """Highest job id; with ``before`` (epoch seconds), the highest of
        the jobs submitted before that time."""
        ids = [
            j.jobId()
            for j in self._list(self._store.jobsList(None))
            if before is None
            or (not j.submissionTime().isEmpty()
                and j.submissionTime().get().getTime() / 1e3 < before)
        ]
        return max(ids, default=-1)

    def _jobs_after(self, after_id: int):
        return [
            j for j in self._list(self._store.jobsList(None)) if j.jobId() > after_id
        ]

    def harvest(self, after_id: int, upto_id: int | None = None,
                python_workers: bool = False) -> Accounting:
        """Account every job with ``after_id < id <= upto_id``; with
        ``python_workers`` also the Python worker times of the SQL
        executions that ran those jobs.

        The status store is filled asynchronously by the listener bus, so
        this waits (up to ``_SETTLE_S``) until every job in the window shows
        a completion time."""
        deadline = time.time() + _SETTLE_S
        while True:
            jobs = [
                j for j in self._jobs_after(after_id)
                if upto_id is None or j.jobId() <= upto_id
            ]
            if all(not j.completionTime().isEmpty() for j in jobs):
                break
            if time.time() > deadline:
                jobs = [j for j in jobs if not j.completionTime().isEmpty()]
                break
            time.sleep(0.2)
        acc = Accounting()
        seen_stages: set[int] = set()
        job_ids: set[int] = set()
        for j in jobs:
            sids = [int(s) for s in self._list(j.stageIds())]
            acc.jobs.append(
                JobRecord(
                    job_id=j.jobId(),
                    submit_s=j.submissionTime().get().getTime() / 1e3,
                    complete_s=j.completionTime().get().getTime() / 1e3,
                )
            )
            job_ids.add(j.jobId())
            seen_stages.update(sids)
        for sid in sorted(seen_stages):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            acc.stages += 1
            acc.tasks += st.numCompleteTasks()
            acc.executor_run_s += st.executorRunTime() / 1e3
            acc.shuffle_write_bytes += st.shuffleWriteBytes()
            acc.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if python_workers:
            self._add_python_worker_seconds(acc, job_ids)
        return acc

    def _add_python_worker_seconds(self, acc: Accounting, job_ids: set[int]) -> None:
        """Sum the Python UDF operators' start / initialize / run worker
        times over the SQL executions that ran any of ``job_ids``. An
        accumulator can appear under several plan nodes and executions, so
        each is counted once. Collections are read through their JVM
        ``toString`` where possible: one py4j call instead of one per
        element."""
        jlong = self._spark.sparkContext._jvm.java.lang.Long
        counted: set[int] = set()
        for ex in self._list(self._sql.executionsList()):
            ex_jobs = {int(j) for j in _INTS.findall(ex.jobs().keys().toString())}
            if not ex_jobs & job_ids:
                continue
            wanted = {
                int(aid): _PY_TIMES[name]
                for name, aid in _PY_METRIC.findall(ex.metrics().toString())
                if int(aid) not in counted
            }
            if not wanted:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(ex.executionId()))
            for aid, field_name in wanted.items():
                v = values.get(jlong.valueOf(aid))
                if v is not None:
                    counted.add(aid)
                    setattr(acc, field_name, getattr(acc, field_name) + timing_seconds(v))


def sanity_flags(acc: Accounting, wall_s: float, cores: int) -> list[str]:
    """Accounting that cannot be right as stated: executor time beyond
    what the cores could run, or Python-worker init time beyond the stage
    run time that should contain it. Recorded, not corrected."""
    flags = []
    if acc.executor_run_s > wall_s * cores:
        flags.append(
            f"executor run {acc.executor_run_s:.2f} task-s > wall {wall_s:.2f} s"
            f" x {cores} cores"
        )
    if acc.py_init_s > acc.executor_run_s:
        flags.append(
            f"python init {acc.py_init_s:.2f} task-s > stage run "
            f"{acc.executor_run_s:.2f} task-s"
        )
    return flags
