"""In-memory tracing for the benchmark's traced runs.

Spans are recorded from outside the program, around calls into its
public entry points (Engine layers, Warehouse writes, suite query
builders and their execution). Each span is (id, name, parent, run,
start, end); a span opened with a ``group`` also sets that Spark job
group for the duration of the call, so the jobs and stages it caused
can be read back from the application status store (which works with
the Spark UI disabled) and attributed to it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

STAGE_FIELDS = {
    # StageData accessor -> (metric name, scale to SI units)
    "executorRunTime": ("task_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "outputRecords": ("rows_out", 1),
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Py4JCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` (every JVM call from Python goes through it)."""

    def __init__(self, spark):
        self._cls = type(spark.sparkContext._gateway._gateway_client)
        self._orig = self._cls.send_command
        self.calls = 0

    def __enter__(self):
        counter, orig = self, self._orig

        def send_command(client, *args, **kwargs):
            counter.calls += 1
            return orig(client, *args, **kwargs)

        self._cls.send_command = send_command
        return self

    def __exit__(self, *exc):
        self._cls.send_command = self._orig


class Tracer:
    """Records spans and reads per-group Spark job/stage metrics."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._jsc = self.sc._jsc
        self._store = self._jsc.sc().statusStore()
        # wall time spent in the tracer's own reads, i.e. what tracing
        # adds to a traced iteration
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, time.time(), group=group, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if group:
                self._jsc.clearJobGroup()
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                if outer:
                    self.sc.setJobGroup(outer, outer)

    def group_metrics(self, span: Span) -> dict[str, float]:
        """Spark work attributed to ``span``'s job group: task, GC,
        shuffle and spill totals over its completed stage attempts, job
        and stage counts, and ``driver_s`` -- the part of the span's
        wall time during which none of its jobs was running."""
        with self.bookkeeping():
            self._jsc.sc().listenerBus().waitUntilEmpty()
            out = {"task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                   "rows_out": 0, "jobs": 0, "stages": 0}
            intervals = []
            stage_ids: set[int] = set()
            for jid in self._jsc.statusTracker().getJobIdsForGroup(span.group):
                job = self._store.job(jid)
                out["jobs"] += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined():
                    end = done.get().getTime() / 1e3 if done.isDefined() else span.end
                    intervals.append((sub.get().getTime() / 1e3, end))
            jvm = self.spark._jvm
            for sid in stage_ids:
                attempts = self._store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    self.sc._gateway.new_array(jvm.double, 0),
                )
                counted = False
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    counted = True
                    for getter, (name, scale) in STAGE_FIELDS.items():
                        out[name] += getattr(st, getter)() * scale
                out["stages"] += counted
            out["driver_s"] = max(0.0, span.wall_s - _covered(intervals, span.start, span.end))
        return out

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
                         "start": s.start, "end": s.end, **s.attrs}
                        for s in self.spans
                    ],
                    "metrics": metrics,
                },
                f,
                indent=1,
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
