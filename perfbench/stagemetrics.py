"""Spark stage metrics for a job group, read from the JVM status store.

job group -> job ids -> stage ids -> totals of the last attempt of each
stage that ran (``AppStatusStore.lastStageAttempt``). Works with
``spark.ui.enabled=false``: the status store is fed by the listener bus,
not by the UI.

A group's jobs are the jobs tagged with it plus every job started while
its block ran. Calls that start jobs from other threads are covered that
way: the compressed build samples hot terms from a pool thread, and
Structured Streaming runs each micro-batch under its own job group. The
benchmark runs one grouped block at a time.
"""

from __future__ import annotations

from contextlib import contextmanager

#: status-store field -> reported key
_SUMS = {
    "executorRunTime": "executor_run_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleReadRecords": "shuffle_read_records",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_write_records",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


def _store(sc):
    return sc._jsc.sc().statusStore()


def _drain(sc) -> None:
    """Wait until the listener bus has delivered every event posted so
    far, so the jobs and stages of finished work are in the store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _next_job_id(sc) -> int:
    """The id the scheduler gives the next job (job ids count up from 0)."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def stage_ids(sc, job_ids) -> list[int]:
    tracker = sc.statusTracker()
    out: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.update(info.stageIds)
    return sorted(out)


def stage_totals(sc, sids) -> dict:
    """Sum the status-store metrics over the stages that ran (skipped
    stages reuse an earlier shuffle and did no work)."""
    store = _store(sc)
    tot = {k: 0 for k in _SUMS.values()}
    tot["stages"] = 0
    for sid in sids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j error: the stage was never submitted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        tot["stages"] += 1
        for field, key in _SUMS.items():
            tot[key] += int(getattr(st, field)())
    tot["spill_bytes"] = tot["memory_spill_bytes"] + tot["disk_spill_bytes"]
    tot["executor_run_s"] = tot.pop("executor_run_ms") / 1000.0
    return tot


class StageMetrics:
    """Job groups of one SparkContext and the job-id window each ran in."""

    def __init__(self, sc):
        self.sc = sc
        self._windows: dict[str, tuple[int, int]] = {}

    @contextmanager
    def group(self, name: str):
        """Tag the calling thread's jobs with ``name`` inside the block and
        remember which job ids the block started."""
        first = _next_job_id(self.sc)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._windows[name] = (first, _next_job_id(self.sc) - 1)

    def job_ids(self, name: str) -> list[int]:
        ids = set(self.sc.statusTracker().getJobIdsForGroup(name))
        if name in self._windows:
            lo, hi = self._windows[name]
            ids.update(range(lo, hi + 1))
        return sorted(ids)

    def totals(self, name: str) -> dict:
        """Status-store totals for every stage the jobs of ``name`` ran."""
        _drain(self.sc)
        jobs = self.job_ids(name)
        out = stage_totals(self.sc, stage_ids(self.sc, jobs))
        out["jobs"] = len(jobs)
        return out
