"""Spark-side counters for the traced run: jobs, tasks and shuffle bytes
between two marks, read from the driver's status store.

Job groups are not used to attribute work: the engine writes some epoch
tables from its own worker threads, which do not inherit a job group set by
the caller. The benchmark is a closed loop (one call in flight at a time),
so every job and stage the scheduler numbered between two marks belongs to
the call between them.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class SparkWork:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0

    def __iadd__(self, other: "SparkWork") -> "SparkWork":
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        return self


class JobCounter:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id), after every listener event of the
        work so far has reached the status store."""
        self._sc.listenerBus().waitUntilEmpty()
        return self._dag.nextJobId(), self._dag.nextStageId()

    def since(self, mark: tuple[int, int]) -> SparkWork:
        job1, stage1 = self.mark()
        work = SparkWork(jobs=job1 - mark[0])
        for sid in range(mark[1], stage1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # numbered but never submitted
                continue
            work.tasks += st.numCompleteTasks()
            work.shuffle_bytes += st.shuffleWriteBytes()
        return work
