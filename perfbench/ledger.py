"""Per-layer tracing from outside the engine.

``Tracer`` records one span per call the benchmark makes into a layer
(the registry callable, the final action, each ``ToruaEngine``
method) and, after each call, reads the Spark status store for the
jobs and stages it ran. Jobs and stages are found by id watermark
(ids above the largest id seen before the call), never by list
length: the store keeps only the newest 1000 stages. Each job becomes
a child span between its submission and completion times, so a
span's self time is its wall time minus what its jobs cover.

``StreamPhases`` is a ``StreamingQueryListener`` that sums the
``durationMs`` phases of every micro-batch.

Everything here is read-only with respect to the session: no conf is
set and no listener other than ``StreamPhases`` is added.
"""

from __future__ import annotations

import itertools
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StatusStore:
    """Jobs and stages from the in-process Spark status store. Works
    with the UI disabled; every Scala default argument is spelled out
    because py4j cannot fill them in."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._gateway = sc._gateway

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def _stages(self):
        empty = self._gateway.new_array(self._jvm.double, 0)
        L = self._jvm.java.util.ArrayList
        return self._store.stageList(L(), False, False, empty, L())

    def watermark(self) -> tuple[int, int]:
        """(max job id, max stage id); both lists are newest first."""
        self.drain()
        jobs, stages = self._jobs(), self._stages()
        j = jobs.apply(0).jobId() if jobs.size() else -1
        s = stages.apply(0).stageId() if stages.size() else -1
        return j, s

    def since(self, mark: tuple[int, int]) -> tuple[list[dict], list[dict]]:
        """Jobs and stage attempts with ids above ``mark``."""
        self.drain()
        jobs, stages = [], []
        seq = self._jobs()
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= mark[0]:
                break
            jobs.append({
                "id": j.jobId(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
            })
        seq = self._stages()
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= mark[1]:
                break
            stages.append({
                "id": s.stageId(),
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_b": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "input_b": s.inputBytes(),
            })
        return jobs, stages

    def gc_seconds(self) -> float:
        """Total collection time of the driver JVM (executors run in
        it in local mode)."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


class Tracer:
    """Spans around layer calls, with their Spark jobs as children.

    ``open`` starts a span (a root span when no parent is given) and
    ``end`` ends it. ``close(root)`` reads the status store once for
    the jobs and stages run since the root opened, attaches each job
    as a child span and returns the root's ledger. Spans stay in
    memory until ``dump``.
    """

    def __init__(self, spark):
        self.store = StatusStore(spark)
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.gc_s = 0.0

    def open(self, name: str, parent: dict | None = None) -> dict:
        span = {"id": next(self._ids), "parent": parent["id"] if parent else None,
                "name": name, "children": []}
        if parent is None:
            span["mark"] = self.store.watermark()
            span["gc0"] = self.store.gc_seconds()
        span["start"] = time.time()
        if parent is not None:
            parent["children"].append(span)
        self.spans.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        if span["parent"] is None:
            span["gc1"] = self.store.gc_seconds()

    def close(self, root: dict) -> dict:
        """Attach the jobs and stages run under ``root`` and return its
        ledger: wall, self (driver) time, per-child time and counters."""
        jobs, stages = self.store.since(root.pop("mark"))
        self.gc_s += root.pop("gc1") - root.pop("gc0")
        wall = root["end"] - root["start"]
        intervals, outside = [], 0.0
        for j in jobs:
            a = j["start"] if j["start"] is not None else root["start"]
            b = j["end"] if j["end"] is not None else root["end"]
            outside += max(0.0, root["start"] - a) + max(0.0, b - root["end"])
            a, b = max(a, root["start"]), min(b, root["end"])
            if b > a:
                intervals.append((a, b))
            self.spans.append({"id": next(self._ids), "parent": root["id"],
                               "name": f"job {j['id']}", "start": a, "end": b,
                               "children": []})
        covered = _union_len(intervals)
        live = [s for s in stages if s["status"] != "SKIPPED"]
        ledger = {
            "wall_s": wall,
            "jobs_cover_s": covered,
            # job time outside the span; job times have 1 ms resolution
            "jobs_outside_s": outside,
            "driver_s": wall - covered,
            "jobs": len(jobs),
            "stages": len({s["id"] for s in live}),
            "tasks": sum(s["tasks"] for s in live),
            "exec_run_s": sum(s["run_s"] for s in live),
            "exec_cpu_s": sum(s["cpu_s"] for s in live),
            "shuffle_mb": sum(s["shuffle_b"] for s in live) / 2**20,
            "input_mb": sum(s["input_b"] for s in live) / 2**20,
        }
        for child in root["children"]:
            ledger[f"{child['name']}_s"] = child["end"] - child["start"]
        root["ledger"] = ledger
        return ledger

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "children"} for s in self.spans]


class StreamPhases(StreamingQueryListener):
    """Sums each micro-batch's ``durationMs`` phases, in milliseconds."""

    def __init__(self):
        self._lock = threading.Lock()
        self.totals = dict.fromkeys(PHASES, 0)
        self.batches = 0

    def snapshot(self) -> tuple[int, dict]:
        with self._lock:
            return self.batches, dict(self.totals)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        d = event.progress.durationMs
        with self._lock:
            self.batches += 1
            for k in PHASES:
                self.totals[k] += int(d.get(k, 0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total / 1024.0
