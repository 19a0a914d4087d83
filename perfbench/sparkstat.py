"""Reads Spark's status store, attributing jobs and stages to operations.

Each operation runs under its own job group (``SparkContext.setJobGroup``,
one local-property write, no wait). The store is read only when asked:
after the timed phase in untraced runs, between operations in traced
runs. The reader is the benchmark's own, so edits to the package's
metrics code cannot change what is measured.
"""

from __future__ import annotations

from dataclasses import dataclass

# Keep every job and stage of a run in the store; the default retention
# (1000) would evict early stages and make totals shrink.
STORE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "1000",
    "spark.ui.showConsoleProgress": "false",
}

MB = 1024 * 1024


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for k in ("jobs", "stages", "tasks", "executor_cpu_s",
                  "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def exact_key(self) -> tuple:
        """The counts that a deterministic plan repeats exactly."""
        return (self.jobs, self.stages, self.tasks,
                self.shuffle_read_bytes + self.shuffle_write_bytes)


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._last_job = -1

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def skip_done_jobs(self) -> None:
        """Make the next ``by_group`` call return only jobs started after
        this one."""
        self.drain()
        it = self._store.jobsList(None).iterator()
        if it.hasNext():
            self._last_job = max(self._last_job, it.next().jobId())

    def drain(self) -> None:
        """Wait until queued listener events reach the store."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def _stages(self, min_id: int):
        """Stage data with ``stageId >= min_id``; the store lists stages
        newest first, so older ones are never fetched."""
        store = self._store
        stages = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")())
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() < min_id:
                break
            yield s

    def by_group(self, new_only: bool = True, keep=None) -> dict[str, Counters]:
        """Counters per job group, over jobs newer than those returned or
        skipped before when ``new_only``, and, when ``keep`` is given,
        newer than the newest job whose group it rejects.
        Skipped stages (reused shuffle output) count as neither stages
        nor tasks."""
        self.drain()
        groups: dict[str, Counters] = {}
        # The store lists jobs newest first.
        jobs = self._store.jobsList(None)
        it = jobs.iterator()
        wanted: dict[int, str] = {}
        newest = self._last_job
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if new_only and jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = j.jobGroup()
            name = g.get() if g.isDefined() else "<none>"
            if keep is not None and not keep(name):
                break
            c = groups.setdefault(name, Counters())
            c.jobs += 1
            # One call for the whole id list: converting it to a Java
            # collection goes through overloaded Scala methods that
            # py4j resolves slowly, about 50 ms per job.
            for sid in j.stageIds().mkString(",").split(","):
                if sid:
                    wanted[int(sid)] = name
        if new_only:
            self._last_job = newest
        if not wanted:
            return groups
        for s in self._stages(min(wanted)):
            sid = s.stageId()
            name = wanted.get(sid)
            if name is None or s.status().toString() == "SKIPPED":
                continue
            c = groups[name]
            c.stages += 1
            c.tasks += s.numTasks()
            c.executor_cpu_s += s.executorCpuTime() / 1e9
            c.gc_s += s.jvmGcTime() / 1e3
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            # A stage shared by two jobs of one group is counted once.
            wanted.pop(sid)
        return groups
