"""In-memory spans and Spark job accounting for the benchmark.

A span has a name, a start, an end, a parent and the id of the
operation it belongs to. The layer of a span is the part of its name
before the first dot (``wand.taat`` is in layer ``wand``). A layer's
self time is the duration of its spans minus the time their child
spans cover.

``SparkJobs`` counts what a block of code launched on Spark: the DAG
scheduler hands out job ids in order, so the jobs a call launched are
the ids handed out between its start and its end, whichever thread
submitted them. Stage, task, shuffle and executor-time figures come
from Spark's status store once the listener bus has drained.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # [name, start, end, parent index or -1, op id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._op = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        if self._stack:
            parent = self._stack[-1]
            op = self.spans[parent][4]
        else:
            parent = -1
            self._op += 1
            op = self._op
        rec = [name, time.perf_counter(), None, parent, op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def mark(self) -> int:
        """Position to pass to :meth:`self_times` to see later spans only."""
        return len(self.spans)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Seconds of self time per layer, over spans recorded after ``since``."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans[since:]:
            if parent >= since:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans[since:], since):
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - child[i]
        return out

    def root_time(self, since: int = 0) -> float:
        """Seconds covered by top-level spans recorded after ``since``."""
        return sum(t1 - t0 for _, t0, t1, p, _ in self.spans[since:] if p < 0)

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": t0, "end": t1, "parent": p, "op": op}
            for n, t0, t1, p, op in self.spans
        ]


class SparkJobs:
    """Counts the Spark jobs launched between two job-id marks."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def jobs(self, first: int, end: int) -> list[dict]:
        """One dict per job with id in ``[first, end)``: stages, tasks,
        executor seconds, shuffle bytes written, submission time
        (epoch seconds) and the job's name."""
        self._bus.waitUntilEmpty()
        out = []
        for j in range(first, end):
            jd = self._store.job(j)
            sids = jd.stageIds()
            stages = tasks = shuffle = 0
            exec_ms = 0
            for i in range(sids.size()):
                sd = self._store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numTasks()
                exec_ms += sd.executorRunTime()
                shuffle += sd.shuffleWriteBytes()
            sub = jd.submissionTime()
            out.append(
                {
                    "id": j,
                    "name": jd.name(),
                    "stages": stages,
                    "tasks": tasks,
                    "exec_s": exec_ms / 1000.0,
                    "shuffle_bytes": shuffle,
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                }
            )
        return out

    @contextmanager
    def count(self, sink: list):
        """Appends to ``sink`` the jobs the block launched, plus the
        block's start time as ``{"start": epoch seconds, "jobs": [...]}``."""
        first, start = self.next_job_id(), time.time()
        try:
            yield
        finally:
            sink.append({"start": start, "jobs": self.jobs(first, self.next_job_id())})


def totals(jobs: list[dict]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "exec_s": sum(j["exec_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
    }
