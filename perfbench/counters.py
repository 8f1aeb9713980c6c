"""Per-span Spark counters read from the driver's status store.

A ``Tracer`` names the span that is running: entering a span sets the
Spark job group of the calling thread, so every job the span launches is
tagged with it.  After an operation, ``Tracer.collect()`` waits for the
listener bus to drain, reads the jobs launched since the previous
collect from the status store, and sums their stage counters per span.

Spark 4.1's ``AppStatusStore.stageList`` takes five arguments; the
quantile array must be an empty ``double[]`` (``null`` throws).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_mb",
            "input_records", "spill_mb")


@dataclass
class SpanTotals:
    """Counters of one span, summed over the jobs tagged with it."""

    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0          # executor CPU time
    run_s: float = 0.0          # executor run time (busy task time)
    shuffle_mb: float = 0.0     # shuffle write
    input_records: int = 0
    spill_mb: float = 0.0       # memory + disk spill

    def add(self, other: "SpanTotals") -> None:
        for k in ("wall_s",) + COUNTERS:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class StatusStore:
    """Reads completed jobs and stages from ``SparkContext.statusStore``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._gw = self.sc._gateway
        self._seen_job = -1

    def drain(self) -> None:
        """Wait until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget every job launched so far."""
        self.drain()
        jobs = self._jsc.statusStore().jobsList(None)
        for i in range(jobs.size()):
            self._seen_job = max(self._seen_job, jobs.apply(i).jobId())

    def new_jobs(self) -> list[tuple[int, str | None, list[int]]]:
        """(job id, job group, stage ids) of jobs since the last call."""
        self.drain()
        jobs = self._jsc.statusStore().jobsList(None)
        out = []
        top = self._seen_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen_job:
                continue
            grp = j.jobGroup()
            ids = j.stageIds()
            out.append((jid, grp.get() if grp.isDefined() else None,
                        [ids.apply(k) for k in range(ids.size())]))
            top = max(top, jid)
        self._seen_job = top
        return out

    def stages(self, wanted: set[int]) -> dict[int, SpanTotals]:
        """Counters of every completed attempt of the wanted stages."""
        quantiles = self._gw.new_array(self._jvm.double, 0)
        seq = self._jsc.statusStore().stageList(None, False, False, quantiles, None)
        out: dict[int, SpanTotals] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid not in wanted or s.status().toString() != "COMPLETE":
                continue
            t = out.setdefault(sid, SpanTotals())
            t.stages += 1
            t.tasks += s.numCompleteTasks()
            t.cpu_s += s.executorCpuTime() / 1e9
            t.run_s += s.executorRunTime() / 1e3
            t.shuffle_mb += s.shuffleWriteBytes() / 1e6
            t.input_records += s.inputRecords()
            t.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        return out

    def cached_mb(self) -> float:
        """Storage memory held by cached RDDs and DataFrames."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(infos[i].memSize() for i in range(len(infos))) / 1e6


@dataclass
class Tracer:
    """Names the running span and attributes Spark jobs to it.

    ``enter(name)`` closes the current span's self-time interval and
    opens one for ``name``; spans never nest, so a span's wall time is
    its self time.  With ``enabled=False`` spans are ignored and
    ``collect`` files every job under ``untagged``.
    """

    spark: object
    store: StatusStore
    enabled: bool = True
    totals: dict[str, SpanTotals] = field(default_factory=dict)
    current: str | None = None
    _since: float = 0.0

    def enter(self, name: str | None) -> None:
        if not self.enabled:
            return
        now = time.perf_counter()
        if self.current is not None:
            self.totals.setdefault(self.current, SpanTotals()).wall_s += now - self._since
        self.current, self._since = name, now
        if name is None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark.sparkContext.setJobGroup(name, name)

    def collect(self) -> dict[str, SpanTotals]:
        """Close the open span, then return and reset the per-span totals,
        with the counters of every job launched since the last collect."""
        self.enter(None)
        jobs = self.store.new_jobs()
        stages = self.store.stages({s for _, _, ids in jobs for s in ids})
        totals, self.totals = self.totals, {}
        for _, grp, ids in jobs:
            t = totals.setdefault(grp or "untagged", SpanTotals())
            t.jobs += 1
            for sid in ids:
                if sid in stages:
                    t.add(stages.pop(sid))    # a stage shared by jobs counts once
        return totals


def merge_totals(parts: list[dict[str, SpanTotals]]) -> SpanTotals:
    """Sum every span of every operation in ``parts``."""
    out = SpanTotals()
    for p in parts:
        for t in p.values():
            out.add(t)
    return out
