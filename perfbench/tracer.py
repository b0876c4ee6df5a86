"""In-memory span tracer with per-span Spark counters.

A span is recorded around a call into one engine module's public function
(name, start, end, parent, run id).  While a span is open its Spark jobs
run under a job group of its own, so when it closes the stages of exactly
those jobs are summed from Spark's status store: jobs, tasks, failed
tasks, input bytes, shuffle read/write bytes, executor run time and GC
time.  A span's jobs belong to the innermost open span; ``inclusive``
adds the descendants' counters back.  Self time is a span's duration minus
the part of it its child spans cover.  Spans stay in memory and are
written out once, by ``dump``, when the run ends.

``instrument`` swaps a public engine function for a traced wrapper in
every engine module that references it, so calls the engine makes
internally (``convert_all`` → ``convert_table``) are spanned too, without
touching engine code.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "tasks", "failed_tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "executor_run_s", "gc_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    iteration: int = -1
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    which is how the untraced (end-to-end) iterations run."""

    def __init__(self, spark, run_id: str, cores: int):
        self.spark = spark
        self.run_id = run_id
        self.cores = cores
        self.enabled = False
        self.iteration = -1
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # -- recording -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                   time.perf_counter(), iteration=self.iteration)
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(self._group(rec), name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            if self._stack and self._stack[-1] is rec:
                self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.counters = self._counters(self._group(rec))

    def reset_stack(self) -> None:
        """Drop spans left open by an operation that timed out."""
        self._stack.clear()

    def _group(self, rec: Span) -> str:
        return f"pb-{self.run_id}-{rec.id}"

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        gw, jvm = sc._gateway, sc._gateway.jvm
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        c = dict.fromkeys(COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for stage in list(info.stageIds):
                attempts = store.stageData(
                    stage, False, jvm.java.util.ArrayList(), False, gw.new_array(jvm.double, 0)
                )
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.status().toString() == "SKIPPED":
                        continue
                    c["tasks"] += d.numTasks()
                    c["failed_tasks"] += d.numFailedTasks()
                    c["input_bytes"] += d.inputBytes()
                    c["shuffle_read_bytes"] += d.shuffleReadBytes()
                    c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    c["executor_run_s"] += d.executorRunTime() / 1000.0
                    c["gc_s"] += d.jvmGcTime() / 1000.0
        return c

    # -- analysis ------------------------------------------------------------

    def children(self, rec: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == rec.id]

    def self_time(self, rec: Span) -> float:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, rec.start), min(c.end, rec.end)) for c in self.children(rec)):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return rec.duration - covered

    def inclusive(self, rec: Span) -> dict:
        total = dict(rec.counters) or dict.fromkeys(COUNTERS, 0)
        for child in self.children(rec):
            for k, v in self.inclusive(child).items():
                total[k] += v
        return total

    def slot_util(self, recs: list[Span]) -> float:
        """Executor run time ÷ (span wall × cores) over ``recs``."""
        wall = sum(r.duration for r in recs)
        busy = sum(self.inclusive(r)["executor_run_s"] for r in recs)
        return busy / (wall * self.cores) if wall > 0 else 0.0

    def named(self, name: str, iteration: int | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (iteration is None or s.iteration == iteration)]

    def dump(self, path: str) -> None:
        out = []
        for s in self.spans:
            row = asdict(s)
            row["self_s"] = self.self_time(s)
            out.append(row)
        with open(path, "w") as fh:
            json.dump(out, fh)


@contextmanager
def instrument(tracer: Tracer, targets: list[tuple[object, str, str]], materialize: set[str] = frozenset()):
    """Wrap each ``(module, attr, span_name)`` function in a span, replacing
    every reference to it across the loaded engine modules, and restore the
    originals on exit.  Yields ``{span_name: [(args, result, rows)]}`` for
    every wrapped call (``rows`` is None unless materialized).

    Functions named in ``materialize`` return a DataFrame: the wrapper
    persists and counts it inside the span, so the span holds the
    operator's own execution, read from the persisted output of the stage
    before it."""
    from pyspark import StorageLevel

    swapped: list[tuple[object, str, object]] = []
    calls: dict[str, list] = {}
    for module, attr, span_name in targets:
        original = getattr(module, attr)

        def wrapper(*args, __fn=original, __name=span_name, **kwargs):
            with tracer.span(__name):
                out, n = __fn(*args, **kwargs), None
                if __name in materialize:
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    n = out.count()
            calls.setdefault(__name, []).append((args, out, n))
            return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("spanner_jdbc_converter_spark"):
                for key, val in list(vars(mod).items()):
                    if val is original:
                        setattr(mod, key, wrapper)
                        swapped.append((mod, key, original))
    try:
        yield calls
    finally:
        for mod, key, original in swapped:
            setattr(mod, key, original)
