"""Spans and Spark stage metrics for the benchmark's traced run.

Spans are taken in the benchmark's own files, around the public calls into
each layer of the engine.  They stay in memory and are written once, when
the run ends.  Stage metrics come from Spark's status store (it is kept
even with the UI disabled): the ids of the newest stage and job are noted
before a call, and every stage or job with a larger id belongs to the call,
since the benchmark runs one call at a time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spilled": "memoryBytesSpilled",
    "disk_spilled": "diskBytesSpilled",
    "failed_tasks": "numFailedTasks",
}


@dataclass
class Spans:
    """In-memory span log: name, start, end, parent and trace id."""

    records: list[dict] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        rec = {"name": name, "trace": trace,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


class StageProbe:
    """Totals of the Spark stages and jobs that one call ran."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._stage = self._job = -1
        self.mark()

    def mark(self) -> None:
        self._bus.waitUntilEmpty()
        stages = self._store.stageList(None, False, False,
                                       self._quantiles, None)
        jobs = self._store.jobsList(None)
        if stages.size():
            self._stage = max(self._stage, stages.apply(0).stageId())
        if jobs.size():
            self._job = max(self._job, jobs.apply(0).jobId())

    def collect(self) -> dict[str, int]:
        """Totals since the last mark(); moves the mark forward."""
        self._bus.waitUntilEmpty()
        stages = _newer(self._store.stageList(
            None, False, False, self._quantiles, None),
            lambda s: s.stageId(), self._stage)
        jobs = _newer(self._store.jobsList(None), lambda j: j.jobId(),
                      self._job)
        out = {k: sum(int(getattr(s, f)()) for s in stages)
               for k, f in STAGE_FIELDS.items()}
        out["stages"] = len(stages)
        out["jobs"] = len(jobs)
        if stages:
            self._stage = stages[0].stageId()
        if jobs:
            self._job = jobs[0].jobId()
        return out


def _newer(seq, id_of, last: int) -> list:
    """Items of a status-store list (newest first) with id above ``last``."""
    out = []
    for i in range(seq.size()):
        item = seq.apply(i)
        if id_of(item) <= last:
            break
        out.append(item)
    return out
