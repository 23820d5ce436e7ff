"""Spans around calls into the package, and the Spark counters behind them.

A span is the wall time of one call into a layer's public function. The
untraced run records only that wall time. A traced op also tags each span
with its own Spark job group and, once the op has returned, reads from the
in-process status store the jobs, stages, tasks, executor time, shuffle,
spill and GC of every stage those jobs ran, plus the JVM's JIT and GC
time over the op. Streaming queries run their micro-batches on their own
thread, under a job group named after the query's run id; a
``StreamingQueryListener`` collects those run ids and the micro-batch
counters, so their jobs are attributed to the span's layer too.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# Counters read per stage from the status store.
STAGE_COUNTERS = (
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "input_bytes",
    "input_records",
)


class _StreamTap(StreamingQueryListener):
    """Collects streaming run ids and micro-batch counters."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.run_ids: list[str] = []
        self.batches = 0
        self.input_rows = 0

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.batches += 1
            self.input_rows += int(event.progress.numInputRows)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> tuple[list[str], int, int]:
        with self._lock:
            out = (self.run_ids, self.batches, self.input_rows)
            self.run_ids, self.batches, self.input_rows = [], 0, 0
        return out


class LayerStats:
    """Everything recorded for one layer over a run."""

    def __init__(self) -> None:
        self.wall: dict[str, list[float]] = defaultdict(list)  # phase -> seconds
        self.traced_calls = 0
        self.counters: dict[str, float] = defaultdict(float)  # summed over traced calls
        self.extra: dict[str, list[float]] = defaultdict(list)

    def p50(self, phase: str = "call") -> float:
        xs = self.wall.get(phase)
        return statistics.median(xs) if xs else 0.0

    def per_call(self, key: str) -> float:
        return self.counters[key] / self.traced_calls if self.traced_calls else 0.0

    def extra_mean(self, key: str) -> float:
        xs = self.extra.get(key)
        return statistics.fmean(xs) if xs else 0.0


class Tracer:
    """Records spans; reads Spark counters for them only while ``traced``."""

    def __init__(self, spark, traceable: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.traceable = traceable
        self.traced = False
        self.layers: dict[str, LayerStats] = defaultdict(LayerStats)
        self.ops: list[dict] = []  # per traced op: engine-wide counters
        self._n = 0
        self._pending: list[tuple[str, str, str]] = []  # (layer, phase, group)
        self._tap = None
        if traceable:
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            mf = self.sc._jvm.java.lang.management.ManagementFactory
            self._jit = mf.getCompilationMXBean()
            self._gcs = list(mf.getGarbageCollectorMXBeans())
            self._tap = _StreamTap()
            spark.streams.addListener(self._tap)

    def close(self) -> None:
        if self._tap is not None:
            self.spark.streams.removeListener(self._tap)
            self._tap = None

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, layer: str, phase: str = "call"):
        """Time one call into ``layer``; ``phase`` is ``call`` for a
        function that does its work inside the call, or ``build`` /
        ``run`` for the two halves of a function returning a DataFrame."""
        group = None
        if self.traced:
            self._n += 1
            group = f"perfbench-{self._n}"
            self.sc.setJobGroup(group, f"{layer}:{phase}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._pending.append((layer, phase, group))
            self.layers[layer].wall[phase].append(wall)

    def record(self, layer: str, key: str, value: float) -> None:
        """A layer-specific figure (rows, cells, bytes) for one call."""
        self.layers[layer].extra[key].append(float(value))

    # -- ops -------------------------------------------------------------

    def begin_op(self, traced: bool) -> None:
        self.traced = self.traceable and traced
        if self.traced:
            self._jvm0 = self._jvm_ms()

    def end_op(self, stream_layer: str | None = None) -> None:
        """After an op returns: read the counters of its traced spans.
        Jobs of streaming queries started during the op are charged to
        ``stream_layer``."""
        if not self.traced:
            return
        self.traced = False
        jit1, gc1 = self._jvm_ms()
        self._bus.waitUntilEmpty()
        op: dict[str, float] = defaultdict(float)
        seen: set[int] = set()

        def charge(ls: LayerStats, c: dict[str, float], phase: str) -> None:
            for k in ("jobs", "stages", *STAGE_COUNTERS):
                ls.counters[k] += c[k]
                ls.counters[f"{phase}_{k}"] += c[k]
                op[k] += c[k]

        for layer, phase, group in self._pending:
            ls = self.layers[layer]
            if phase != "run":
                ls.traced_calls += 1
            charge(ls, self._group_counters(group, seen), phase)
        self._pending.clear()
        run_ids, batches, rows = self._tap.take()
        if stream_layer is not None:
            ls = self.layers[stream_layer]
            for rid in run_ids:
                charge(ls, self._group_counters(rid, seen), "stream")
            ls.counters["stream_batches"] += batches
            ls.counters["stream_input_rows"] += rows
        op["jit_s"] = (jit1 - self._jvm0[0]) / 1000.0
        op["jvm_gc_s"] = (gc1 - self._jvm0[1]) / 1000.0
        self.ops.append(dict(op))

    # -- Spark status store ---------------------------------------------

    def _jvm_ms(self) -> tuple[int, int]:
        return (
            int(self._jit.getTotalCompilationTime()),
            sum(int(g.getCollectionTime()) for g in self._gcs),
        )

    def _group_counters(self, group: str, seen_stages: set[int]) -> dict[str, float]:
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        out["stages"] = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store or never run
                    continue
                done = int(sd.numCompleteTasks())
                if done == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += done
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
        return out
