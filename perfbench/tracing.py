"""Spans around calls into the engine's layers, and the Spark counters
behind them.

A span tags every Spark job its body submits with a job group of its
own (``sparkContext.setJobGroup``); after the run the stage counters of
each group are read from the application status store
(``sparkContext._jsc.sc().statusStore()``), which Spark keeps even with
the UI disabled.  Jobs belong to the innermost open span, so a layer's
counters are its own work, and its ``wall_s`` is self time: the span's
duration minus the part its child spans cover.

Spans live in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import covered, ratio

# Per-layer counters, in report order.
COUNTERS = (
    "calls",
    "wall_s",
    "driver_s",
    "executor_s",
    "jobs",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_write_bytes",
    "output_bytes",
    "spill_bytes",
    "gc_s",
)
# Layers are the engine's module names.  ``session`` reports only its
# set-up timings; every other layer reports every counter.
LAYERS = (
    "incremental",
    "catalog",
    "pipeline",
    "text_analysis",
    "semantic_dedup",
    "dedup",
    "cache",
    "retrieval",
    "ivf_maintenance",
)
# Layer-specific extras, each sampled by the workload that drives the
# layer (0 on workloads that never call it).
EXTRA_METRICS = (
    "incremental.append_yield",
    "dedup.candidates",
    "dedup.candidate_yield",
    "cache.peak_storage_bytes",
    "retrieval.live_roots",
    "retrieval.tombstones",
    "ivf_maintenance.live_roots",
)


# StageData fields read per stage: counter name -> (getter, scale).
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
    # bytes spilled to disk (the memory-side figure is deserialized size)
    "spill_bytes": ("diskBytesSpilled", 1),
}


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class StageReader:
    """Reads stage counters out of the Spark driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.missing: set[str] = set()
        self._d3 = getattr(self.store, "stageData$default$3")()
        self._d5 = getattr(self.store, "stageData$default$5")()

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event, so
        the store holds final figures for every finished stage."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage(self, stage_id: int) -> tuple[dict, list[tuple[float, float]]]:
        """Counters summed over every attempt of one stage, plus the
        attempts' (submitted, completed) epoch-second intervals."""
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        intervals = []
        seq = self.store.stageData(stage_id, False, self._d3, False, self._d5)
        for i in range(seq.size()):
            d = seq.apply(i)
            for name, (getter, scale) in _STAGE_FIELDS.items():
                if name in self.missing:
                    continue
                try:
                    out[name] += getattr(d, getter)() * scale
                except Exception:  # noqa: BLE001 - counter absent in this Spark
                    self.missing.add(name)
            sub, done = d.submissionTime(), d.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out, intervals

    def group(self, group: str) -> tuple[int, dict, list[tuple[float, float]]]:
        """(jobs, summed stage counters, stage intervals) of one job group."""
        tracker = self.sc.statusTracker()
        totals = dict.fromkeys(_STAGE_FIELDS, 0.0)
        intervals: list[tuple[float, float]] = []
        job_ids = tracker.getJobIdsForGroup(group)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                c, iv = self.stage(sid)
                for k, v in c.items():
                    totals[k] += v
                intervals += iv
        return len(job_ids), totals, intervals


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    run_id: str = ""
    group: str = ""
    child_intervals: list = field(default_factory=list)


class Tracer:
    """Records spans and job groups.  ``enabled=False`` gives the untraced
    run: no job groups, no spans, only the run-wide job group used for
    the whole-run byte counters."""

    RUN_GROUP = "perfbench-run"
    CHECK_GROUP = "perfbench-checks"

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self.bookkeeping_s = 0.0  # tracer time spent inside the op loop
        self.extras: dict[str, list[float]] = {}
        self.peak_rss_kb: dict[str, int] = {}
        self._set_group(self.RUN_GROUP)

    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            layer=layer,
            start=time.time(),
            parent=parent.span_id if parent else None,
            op=self.op,
            run_id=self.run_id,
        )
        s.group = f"{layer}:{s.span_id}"
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if parent:
                parent.child_intervals.append((s.start, s.end))
            self._set_group(self._stack[-1].group if self._stack else self.RUN_GROUP)
            self.bookkeeping_s += time.perf_counter() - t1

    def end_loop(self) -> None:
        """Mark the end of the timed loop: snapshot peak memory, and send
        later jobs (the correctness checks) to a group of their own,
        outside every counter."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.peak_rss_kb = {"python": vm_hwm_kb("self"), "jvm": vm_hwm_kb(jvm)}
        self._stack.clear()
        self._set_group(self.CHECK_GROUP)

    def sample(self, name: str, read) -> None:
        """Traced runs only: record ``read()`` as one sample of a layer
        extra (reported as the mean), timed as tracer bookkeeping."""
        if self.enabled:
            t0 = time.perf_counter()
            self.extras.setdefault(name, []).append(float(read()))
            self.bookkeeping_s += time.perf_counter() - t0

    def collect(self, reader: StageReader) -> tuple[dict, dict[str, dict[str, float]]]:
        """Counters summed over every job of the run (both modes), and per
        layer over every span (traced runs)."""
        jobs, totals, _ = reader.group(self.RUN_GROUP)
        layers = {layer: dict.fromkeys(COUNTERS, 0.0) for layer in LAYERS}
        for s in self.spans:
            n, c, intervals = reader.group(s.group)
            self_wall = (s.end - s.start) - covered(s.child_intervals, s.start, s.end)
            busy = covered(intervals, s.start, s.end)
            row = layers[s.layer]
            row["calls"] += 1
            row["wall_s"] += self_wall
            row["driver_s"] += max(0.0, self_wall - busy)
            row["jobs"] += n
            jobs += n
            for k, v in c.items():
                row[k] += v
                totals[k] += v
        totals["jobs"] = jobs
        return totals, layers

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d.pop("child_intervals")
                f.write(json.dumps(d) + "\n")


def mean(samples: list[float] | None) -> float:
    return ratio(sum(samples), len(samples)) if samples else 0.0
