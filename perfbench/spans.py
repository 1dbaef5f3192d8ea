"""Spans and Spark counters for the benchmark's traced mode.

A span wraps one call into an engine layer. Each span gets its own Spark
job group, so every job the layer launches while the span is innermost is
attributed to it; the status store then yields that span's jobs, tasks,
shuffle bytes, spill bytes and GC time. Spans stay in memory and are
written out once, when the run ends.

With tracing off, ``span`` only times nothing and ``force`` returns its
frame untouched, so the untraced and traced runs execute the same code.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "peak_exec_bytes")
# Counters that combine by max, not by sum: a layer's peak is the peak of
# its heaviest stage.
PEAKS = ("peak_exec_bytes",)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.span_id if parent else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(self._group(s), name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, df):
        """Materialize a layer's result at its boundary with a noop write.
        The frame is cached on the way, so the next layer starts from the
        forced rows instead of recomputing them."""
        if not self.enabled:
            return df
        df = df.persist()
        self._persisted.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _group(self, s: Span) -> str:
        return f"perfbench-{self.run_id}-{s.span_id}"

    # -- after the run ------------------------------------------------------

    def collect_counters(self) -> None:
        """Attribute Spark jobs to spans through their job groups."""
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        # Status-store updates arrive on the listener bus asynchronously.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = stage_table(self.spark)
        tracker = sc.statusTracker()
        for s in self.spans:
            if s.counters:
                continue
            c = dict.fromkeys(COUNTERS, 0)
            c["stage_ids"] = []
            for jid in tracker.getJobIdsForGroup(self._group(s)):
                info = tracker.getJobInfo(jid)
                c["jobs"] += 1
                for sid in info.stageIds if info else ():
                    st = stages.get(sid)
                    if st is None:
                        continue
                    c["stage_ids"].append(sid)
                    c["tasks"] += st["tasks"]
                    c["shuffle_bytes"] += st["shuffle_bytes"]
                    c["spill_bytes"] += st["spill_bytes"]
                    c["gc_s"] += st["gc_s"]
                    c["peak_exec_bytes"] = max(c["peak_exec_bytes"], st["peak_exec_bytes"])
            s.counters = c

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((k.start, k.end) for k in self.spans if k.parent == s.span_id)
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.duration - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def layer_self(self, layer: str) -> float:
        return sum(self.self_time(s) for s in self.spans if s.layer == layer)

    def layer_counters(self, layer: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        for s in self.spans:
            if s.layer == layer:
                for k in COUNTERS:
                    v = s.counters.get(k, 0)
                    out[k] = max(out[k], v) if k in PEAKS else out[k] + v
        return out

def dump_spans(tracers: list[Tracer], path: str) -> None:
    """Write the spans of ``tracers`` as JSON lines, with their self times."""
    with open(path, "w", encoding="utf-8") as fh:
        for tr in tracers:
            for s in tr.spans:
                rec = asdict(s)
                rec["self_s"] = tr.self_time(s)
                fh.write(json.dumps(rec) + "\n")


def stage_table(spark) -> dict[int, dict]:
    """stage id -> counters, from the status store of the live context."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    seq = store.stageList(None, False, False, empty, None)
    out: dict[int, dict] = {}
    for i in range(seq.size()):
        st = seq.apply(i)
        out[st.stageId()] = {
            "attempt": st.attemptId(),
            "tasks": st.numCompleteTasks(),
            "shuffle_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "gc_s": st.jvmGcTime() / 1000.0,
            # Spark sums each task's peak execution memory over the stage.
            "peak_exec_bytes": st.peakExecutionMemory(),
            "run_s": st.executorRunTime() / 1000.0,
        }
    return out


def task_skew(spark, stage_ids: list[int]) -> float:
    """max / median task duration of the heaviest of ``stage_ids``
    (by executor run time); 1.0 when it ran a single task."""
    stages = stage_table(spark)
    cands = [(stages[s]["run_s"], s) for s in stage_ids if s in stages]
    if not cands:
        return 0.0
    _, sid = max(cands)
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = store.taskList(sid, stages[sid]["attempt"], 1 << 16)
    durs = []
    for i in range(tasks.size()):
        d = tasks.apply(i).duration()
        if d.isDefined():
            durs.append(float(d.get()))
    if len(durs) < 2:
        return 1.0
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else float(len(durs))
