"""Spans around calls into the engine's layers, with Spark's own work
counters read from the status store per span.

A span records name, start, end, parent span and operation id. Its
counters cover the Spark jobs whose ids fall inside the span: job ids
only increase, and reading them by id range right after each span keeps
the count exact even though the store retains only the most recent
~1000 jobs, and it also catches jobs submitted from helper threads that
do not inherit the span's job group. Each span also sets its own job
group, so the jobs are labelled in the status store.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
    "run_s", "cpu_s",
)


class Tracer:
    """Spans kept in memory; ``records()`` returns them for the side file."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: int | None = None
        self._next_job = self._scan_jobs(0)[1]

    def _scan_jobs(self, start: int) -> tuple[list, int]:
        """Status-store records of the jobs from id ``start`` up to the
        newest, and the id after the newest."""
        self._bus.waitUntilEmpty()
        ids, j = [], start
        while True:
            try:
                job = self._store.job(j)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return ids, j
            ids.append(job)
            j += 1

    def _counters(self, jobs) -> dict:
        out = dict.fromkeys(_COUNTERS, 0.0)
        out["jobs"] = len(jobs)
        stage_ids = set()
        for job in jobs:
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
        return out

    @contextmanager
    def span(self, name: str):
        """Time one layer call; the body must materialise its output."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        first_job = self._scan_jobs(self._next_job)[1]
        # the parent's jobs so far belong to the parent: resume after them
        self._next_job = first_job
        self._sc.setJobGroup(f"perfbench-{rec['id']}-{name}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent['id']}-{parent['name']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            jobs, self._next_job = self._scan_jobs(first_job)
            rec["first_job"], rec["end_job"] = first_job, self._next_job
            rec.update(self._counters(jobs))

    def records(self) -> list[dict]:
        """Spans with self time (duration minus children's) and self
        counters (a parent's job range includes its children's)."""
        out = []
        for rec in self.spans:
            kids = [s for s in self.spans if s["parent"] == rec["id"]]
            r = dict(rec)
            r["wall_s"] = rec["end"] - rec["start"]
            r["self_s"] = r["wall_s"] - sum(k["end"] - k["start"] for k in kids)
            for c in _COUNTERS:
                r[f"self_{c}"] = rec[c] - sum(k[c] for k in kids)
            out.append(r)
        return out
