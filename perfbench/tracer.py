"""Spans around calls into the program's layers, and the Spark jobs
behind them, read from Spark's in-process status store.

Nothing here changes a file of the program: job groups are set from
the benchmark, the layer boundaries are timed by wrappers the
benchmark installs over the program's module attributes, and job and
stage metrics come from ``SparkContext.statusStore()`` after each
operation, outside its timed span.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

from metrics import attribute_jobs

STAGE_FIELDS = ("tasks", "failed_tasks", "task_ms", "cpu_ns", "gc_ms", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    """Keeps spans in memory; with ``traced`` also tags Spark jobs with
    the span's job group and reads their metrics back.

    A span is a dict: ``id``, ``parent``, ``layer``, ``name``,
    ``group``, wall ``start``/``end`` (``perf_counter`` seconds) and
    ``start_ms``/``end_ms`` (epoch milliseconds, the clock Spark stamps
    job submissions with). Untraced, spans still time the operations
    but no job group is set and the status store is never read.
    """

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.sc = None
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self._last_job = -1
        self._seen_stages: set[int] = set()

    def bind(self, spark) -> None:
        """Attach to a (new) session; job ids restart with it."""
        self.sc = spark.sparkContext
        self.jobs = []
        self._last_job = -1
        self._seen_stages = set()

    @contextmanager
    def span(self, layer: str, name: str, group: bool = False, **attrs):
        sid = next(self._ids)
        sp = {"id": sid, "parent": self._stack[-1]["id"] if self._stack else None,
              "layer": layer, "name": name, "group": None, **attrs}
        if group and self.traced and self.sc is not None:
            sp["group"] = f"{name}|{layer}|{sid}"
            self.sc.setJobGroup(sp["group"], sp["group"])
        self._stack.append(sp)
        sp["start_ms"] = time.time() * 1000.0
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self.spans.append(sp)
            if sp["group"] is not None:
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer, outer)

    def wrap(self, owner, attr: str, layer: str, before=None) -> None:
        """Replace ``owner.attr`` with a version timed as a ``layer``
        span. ``before(*args)`` runs first, inside the span's parent.
        A call made inside a span of the same layer (a pipeline saving
        its stages) is not timed again, so layer sums count it once."""
        fn = getattr(owner, attr)
        if getattr(fn, "perfbench_layer", None) == layer:
            return

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if any(s["layer"] == layer for s in self._stack):
                return fn(*args, **kwargs)
            if before is not None:
                before(*args, **kwargs)
            with self.span(layer, attr):
                return fn(*args, **kwargs)

        timed.perfbench_layer = layer
        setattr(owner, attr, timed)

    def collect(self) -> None:
        """Read the jobs submitted since the last call, with the
        metrics of their stages. Call after each operation: the status
        store keeps only the most recent jobs."""
        if not self.traced or self.sc is None:
            return
        store = self.sc._jsc.sc().statusStore()
        listed = store.jobsList(None)  # newest first
        new = []
        for i in range(listed.size()):
            j = listed.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            new.append(j)
        for j in reversed(new):
            rec = {"job_id": j.jobId(),
                   "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                   "submit_ms": float(j.submissionTime().get().getTime())
                   if j.submissionTime().isDefined() else 0.0,
                   "stages": 0}
            rec.update(dict.fromkeys(STAGE_FIELDS, 0))
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["failed_tasks"] += sd.numFailedTasks()
                rec["task_ms"] += sd.executorRunTime()
                rec["cpu_ns"] += sd.executorCpuTime()
                rec["gc_ms"] += sd.jvmGcTime()
                rec["input_bytes"] += sd.inputBytes()
                rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.diskBytesSpilled()
            self.jobs.append(rec)
            self._last_job = max(self._last_job, rec["job_id"])

    def attributed(self) -> list[tuple[dict, dict | None]]:
        """Every job read so far, paired with the span that owns it."""
        owner = attribute_jobs(self.jobs, self.spans)
        by_id = {s["id"]: s for s in self.spans}
        return [(j, by_id.get(owner[j["job_id"]])) for j in self.jobs]


def plan_phases(df) -> dict[str, float]:
    """Force Catalyst to plan ``df`` and return its tracker's phase
    durations in seconds (analysis ran when the DataFrame was built;
    optimization and planning run here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out
