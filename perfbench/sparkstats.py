"""Spark job, stage and task counters per operation, from the status store.

Every operation runs under its own job group (a fresh id per execution:
``statusTracker().getJobIdsForGroup`` accumulates across reuses of one
group id). Stage metrics come from the status store's
``lastStageAttempt``, which works with the UI disabled.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from typing import Any

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for its JVM to exit: closing the
    gateway's stdin is what tells PythonGatewayServer to shut down."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout_s)


class SparkOps:
    def __init__(self, spark, collect: bool):
        self.sc = spark.sparkContext
        self.collect = collect
        self._seq = itertools.count()
        self.per_op: list[dict[str, Any]] = []  # one row per op execution

    @contextmanager
    def op(self, label: str):
        """Run the body under a unique job group; with ``collect`` the op's
        counters and job time intervals are appended to ``per_op``."""
        group = f"bench-{next(self._seq)}-{label}"
        self.sc.setJobGroup(group, label, False)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if self.collect:
            self.per_op.append(
                {"op": label, "start": start, "end": end, **self._group_stats(group)}
            )

    def _group_stats(self, group: str) -> dict[str, Any]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        out: dict[str, Any] = {k: 0 for k in COUNTERS}
        out["jobs"] = len(jobs)
        intervals = []
        stage_ids: set[int] = set()
        for j in jobs:
            data = self._settled_job(store, j)
            if data is not None and data.completionTime().isDefined():
                intervals.append(
                    (
                        data.submissionTime().get().getTime() / 1000.0,
                        data.completionTime().get().getTime() / 1000.0,
                    )
                )
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            st = self._settled_stage(store, sid)
            if st is None:  # skipped: its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
        out["job_intervals"] = intervals
        return out

    @staticmethod
    def _settled_job(store, job_id: int, timeout_s: float = 5.0):
        """The job's record once the listener has seen it finish."""
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                data = store.job(job_id)
                if data.completionTime().isDefined():
                    return data
            except Exception:  # noqa: BLE001 - not in the store yet
                data = None
            if time.monotonic() > deadline:
                return data
            time.sleep(0.01)

    @staticmethod
    def _settled_stage(store, stage_id: int, timeout_s: float = 5.0):
        """The stage's last attempt once complete; None for a stage that
        never ran (skipped, or absent from the store)."""
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException
                return None
            status = str(st.status())
            if status in ("COMPLETE", "FAILED"):
                return st
            if status == "SKIPPED" or time.monotonic() > deadline:
                return None
            time.sleep(0.01)
