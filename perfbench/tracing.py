"""In-memory spans with Spark status-store counters.

A span is ``<layer>.<op>``, named after the library module whose public
call it wraps. Each span instance gets its own Spark job group, so every job
submitted inside it is attributed to it through
``statusTracker().getJobIdsForGroup`` -> ``statusStore().lastStageAttempt``
(both work with ``spark.ui.enabled=false``). Spans nest; a job belongs to
the innermost open span, and a span's counters include its children's.
Spans are written out only after the traced work ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from statistics import median

#: per-span fields, with unit and which direction is better
FIELDS = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_s": ("s", "lower"),
    "slot_busy": ("ratio", "higher"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "rows_out": ("rows", "higher"),
}


class Span:
    __slots__ = ("idx", "name", "parent", "group", "start", "end", "rows_out")

    def __init__(self, idx, name, parent, group, start):
        self.idx = idx
        self.name = name
        self.parent = parent
        self.group = group
        self.start = start
        self.end = None
        self.rows_out = 0


class Tracer:
    """Records spans for one traced run (``run_id``). Single driver thread
    per open span stack — the streaming callback runs on its own thread but
    strictly between the caller's spans, never concurrently with them."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._deferred: list = []
        self._after: list = []
        self._samples: dict[str, list] = {}

    def defer(self, span: Span, count) -> None:
        """Set ``span.rows_out = count()`` once the traced work has ended,
        so the counting job is attributed to no span."""
        self._deferred.append((span, count))

    def after(self, fn) -> None:
        """Run ``fn`` (cache release) once the deferred counts are done."""
        self._after.append(fn)

    def sample(self, metric: str, fn) -> None:
        """Evaluate ``fn`` after the traced work; the metric is the mean."""
        self._samples.setdefault(metric, []).append(fn)

    def finish(self) -> tuple[list[dict], dict[str, float]]:
        """Deferred counts, samples, cache release; then the per-instance
        span records and the sampled metrics."""
        self._set_group(None)
        for span, count in self._deferred:
            span.rows_out = count()
        samples = {
            k: sum(fn() for fn in fns) / len(fns)
            for k, fns in self._samples.items()
        }
        for fn in self._after:
            fn()
        return self.per_instance(), samples

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, parent.idx if parent else None,
            f"perfbench-{self.run_id}-{len(self.spans)}", time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # --- counters ------------------------------------------------------------

    def _wait_listener_bus(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; fall back to a pause
            time.sleep(1.0)

    def _stage_rows(self, group: str) -> dict[int, tuple]:
        """stage id -> (tasks, run_ms, shuffle_write_b, spill_b) for the
        stages that ran (not SKIPPED) in the group's jobs."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {}
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in out:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out[sid] = (
                    st.numCompleteTasks(), st.executorRunTime(),
                    st.shuffleWriteBytes(), st.diskBytesSpilled(),
                )
        return out

    def task_skew(self, span: Span) -> float:
        """max / median task run time of the span's widest stage (for
        graph.materialize: the salted repartition's write stage)."""
        store = self.sc._jsc.sc().statusStore()
        stages = self._stage_rows(span.group)
        if not stages:
            return 0.0
        sid = max(stages, key=lambda s: (stages[s][0], s))
        att = store.lastStageAttempt(sid).attemptId()
        tasks = store.taskList(sid, att, 100_000)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = median(times) if times else 0
        return max(times) / med if med else 0.0

    def per_instance(self) -> list[dict]:
        """One record per span instance: wall/self time and inclusive
        counters (a span's own jobs plus its descendants')."""
        self._wait_listener_bus()
        own = {}
        for s in self.spans:
            rows = self._stage_rows(s.group).values()
            own[s.idx] = {
                "jobs": len(self.sc.statusTracker().getJobIdsForGroup(s.group)),
                "stages": len(rows),
                "tasks": sum(r[0] for r in rows),
                "task_s": sum(r[1] for r in rows) / 1000,
                "shuffle_write_mb": sum(r[2] for r in rows) / 2**20,
                "spill_mb": sum(r[3] for r in rows) / 2**20,
            }
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def inclusive(s: Span) -> dict:
            acc = dict(own[s.idx])
            for c in children.get(s.idx, []):
                for k, v in inclusive(c).items():
                    acc[k] += v
            return acc

        out = []
        for s in self.spans:
            wall = s.end - s.start
            kids = sum(c.end - c.start for c in children.get(s.idx, []))
            rec = inclusive(s)
            rec.update(name=s.name, idx=s.idx, parent=s.parent,
                       wall_s=wall, self_s=max(0.0, wall - kids),
                       rows_out=s.rows_out)
            out.append(rec)
        return out

    def top_level_s(self) -> float:
        return sum(s.end - s.start for s in self.spans if s.parent is None)


def per_layer_metrics(
    instances: list[dict], span_names: list[str], cores: int
) -> dict[str, float]:
    """``<span>.<field>`` per listed span name: the mean over the span's
    calls (so ``pipeline.run_kg.jobs`` is jobs per run_kg call), with
    slot_busy = task_s / (wall x cores) over all calls. A span the
    workload never enters reports 0."""
    out = {}
    for name in span_names:
        recs = [r for r in instances if r["name"] == name]
        n = len(recs)
        for field in FIELDS:
            if field == "slot_busy":
                wall = sum(r["wall_s"] for r in recs)
                v = sum(r["task_s"] for r in recs) / (wall * cores) if wall else 0.0
            else:
                v = sum(r[field] for r in recs) / n if n else 0.0
            out[f"{name}.{field}"] = v
    return out
