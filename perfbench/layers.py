"""Per-execution layer attribution, read from outside the engine.

Each traced execution runs under its own job group. Afterwards the
tracer reads Spark's status store for the jobs of that group and of
every streaming run the execution started (micro-batch jobs run under
the streaming run's own group), and the progress events a
``StreamingQueryListener`` received for those runs.
"""

from __future__ import annotations

import itertools
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from stats import gap_length

#: Micro-batch phases, summed per execution (``durationMs`` keys).
STREAM_PHASES = {
    "stream.add_batch_ms": ("addBatch",),
    "stream.commit_ms": ("commitOffsets", "walCommit"),
    "stream.offset_ms": ("latestOffset", "getBatch"),
    "stream.planning_ms": ("queryPlanning",),
}

#: Executor metrics summed over the stages an execution ran.
EXEC_FIELDS = {
    "exec.task_ms": lambda s: s.executorRunTime(),
    "exec.cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "exec.gc_ms": lambda s: s.jvmGcTime(),
    "exec.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "exec.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "exec.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


#: Counts from the status store and the streaming listener.
COUNT_KEYS = ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.failed_tasks", "stream.batches")

#: Every key :meth:`Tracer.end` returns.
EXECUTION_KEYS = (*COUNT_KEYS, "driver.gap_ms", *EXEC_FIELDS, *STREAM_PHASES)


class StreamRecorder(StreamingQueryListener):
    """Collects start, progress and termination events per run id."""

    def __init__(self):
        self._cv = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict[str, int]]] = {}

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.setdefault(str(p.runId), []).append(dict(p.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def runs_started(self) -> int:
        with self._cv:
            return len(self.started)

    def runs_since(self, n: int) -> list[str]:
        with self._cv:
            return self.started[n:]

    def progress_of(self, run_ids: list[str]) -> list[dict[str, int]]:
        with self._cv:
            return [d for r in run_ids for d in self.progress.get(r, ())]

    def wait_terminated(self, run_ids: list[str], timeout_s: float) -> bool:
        with self._cv:
            return self._cv.wait_for(
                lambda: self.terminated.issuperset(run_ids), timeout_s)


class Tracer:
    """Attributes jobs, stages, tasks, executor time and streaming
    phases to one execution at a time (the benchmark is a closed loop
    with a single client, so nothing else runs concurrently)."""

    #: Longest wait for the listener bus to deliver an end event.
    WAIT_S = 30.0

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.streams = StreamRecorder()
        self._ids = itertools.count()
        self._seen_stages: set[int] = set()
        self._group = None
        self._n_started = 0

    def attach(self) -> None:
        self.spark.streams.addListener(self.streams)

    def detach(self) -> None:
        self.spark.streams.removeListener(self.streams)

    def begin(self, op: str) -> None:
        # a fresh id per execution: a group id's job list never shrinks
        self._group = f"perfbench-{op}-{next(self._ids)}"
        self.sc.setJobGroup(self._group, op)
        self._n_started = self.streams.runs_started()

    def abandon(self) -> None:
        """Leave the execution's job group without reading it."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def end(self, window: tuple[float, float]) -> dict[str, float]:
        """Layer metrics of the execution that ran in ``window``
        (epoch seconds). Read right away: the status store keeps only
        the most recent 1000 jobs and stages."""
        self.abandon()
        runs = self.streams.runs_since(self._n_started)
        if runs and not self.streams.wait_terminated(runs, self.WAIT_S):
            raise RuntimeError(f"no termination event for streaming runs {runs}")
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(self._group))
        for run in runs:
            job_ids.update(tracker.getJobIdsForGroup(run))
        out = dict.fromkeys(EXECUTION_KEYS, 0.0)
        out["spark.jobs"] = len(job_ids)
        busy = []
        for jid in sorted(job_ids):
            job = self._finished_job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                busy.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(stage_ids.apply(i), out)
        out["driver.gap_ms"] = gap_length(window, busy) * 1e3
        batches = self.streams.progress_of(runs)
        out["stream.batches"] = len(batches)
        for name, keys in STREAM_PHASES.items():
            out[name] = float(sum(d.get(k, 0) for d in batches for k in keys))
        return out

    def _finished_job(self, jid: int):
        """The job's status-store record once its end event is applied
        (the store trails the scheduler on the listener bus)."""
        deadline = time.monotonic() + self.WAIT_S
        while True:
            job = self.store.job(jid)
            if job.completionTime().isDefined() or time.monotonic() > deadline:
                return job
            time.sleep(0.005)

    def _add_stage(self, sid: int, out: dict[str, float]) -> None:
        # a stage reused by a later job shows that job its old attempt:
        # count each stage once, in the execution that ran it
        if sid in self._seen_stages:
            return
        stage = self.store.lastStageAttempt(sid)
        if stage.status().toString() not in ("COMPLETE", "FAILED"):
            return
        self._seen_stages.add(sid)
        out["spark.stages"] += 1
        out["spark.tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
        out["spark.failed_tasks"] += stage.numFailedTasks()
        for name, read in EXEC_FIELDS.items():
            out[name] += read(stage)


def cached_entries(spark: SparkSession) -> int:
    """Datasets currently registered in the session's cache manager."""
    return int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())
