"""Spark job accounting shared by the job-budget tests."""


class JobLog:
    """Spark jobs by id watermark, read from the in-process status
    store after the listener bus has delivered every event."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def _ids(self) -> list[int]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return self._sc.statusTracker().getJobIdsForGroup()

    def mark(self) -> int:
        return max(self._ids(), default=-1)

    def count(self, mark: int) -> int:
        """Jobs with an id above ``mark``. Reads no stage detail, so it
        holds for a run longer than the status store keeps stages."""
        return sum(1 for j in self._ids() if j > mark)

    def since(self, mark: int) -> list[tuple[int, int]]:
        """(stages run, shuffle bytes) of each job with an id above
        ``mark``. A stage whose shuffle output is reused is skipped and
        does not count. Under adaptive execution a shuffle map stage
        runs as a job of its own, so shuffle bytes, not the stage
        count, show a shuffle."""
        store = self._sc._jsc.sc().statusStore()
        out = []
        for j in sorted(j for j in self._ids() if j > mark):
            job = store.job(j)
            ids = job.stageIds()
            stages = [store.lastStageAttempt(ids.apply(i)) for i in range(ids.size())]
            out.append((job.numCompletedStages(),
                        sum(s.shuffleReadBytes() + s.shuffleWriteBytes() for s in stages)))
        return out
