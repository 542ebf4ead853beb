"""Outside-in tracing for the benchmark: spans around calls into the
package's public functions, plus Spark engine counters read per operation.

Nothing here edits the program. :class:`Tracer` swaps a public function or
method for a wrapper that records a span and calls the original;
:meth:`Tracer.restore` puts the originals back. :class:`EngineProbe` reads
stage, job and storage data from Spark's status store (filled with the UI
disabled) and streaming progress from every query started in the process.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it that ``children`` cover.
    Children may run on other threads and overlap each other, so their
    intervals are clipped to the span and merged before subtracting."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
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
    return (span.end - span.start) - covered


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open span
    on its thread, or the open root span for work on worker threads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _run(self, name: str, as_root: bool, fn, args, kwargs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        stack.append(sid)
        if as_root:
            self._root = sid
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            if as_root:
                self._root = None
            span = Span(sid, name, start, end, parent, threading.current_thread().name)
            with self._lock:
                self.spans.append(span)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``."""
        return self._run(name, False, fn, args, kwargs)

    def root(self, name: str, fn, *args, **kwargs):
        """Like :meth:`call`, and the span also parents spans opened on
        threads that have no open span of their own."""
        return self._run(name, True, fn, args, kwargs)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        a wrapper that records a span ``name`` around each call."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def layers(self, since: int = 0) -> dict[str, tuple[float, int]]:
        """Total time and count per span name over ``spans[since:]``,
        counting only spans not nested in a span of the same name (so a
        method that calls another of its own layer is not counted twice)."""
        by_id = {s.id: s for s in self.spans}
        out: dict[str, tuple[float, int]] = {}
        for s in self.spans[since:]:
            p = by_id.get(s.parent)
            while p is not None and p.name != s.name:
                p = by_id.get(p.parent)
            if p is None:
                secs, n = out.get(s.name, (0.0, 0))
                out[s.name] = (secs + s.end - s.start, n + 1)
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        rows = [
            {**asdict(s), "self": self_time(s, kids.get(s.id, []))}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


STAGE_SUMS = {
    # counter name -> (StageData field, scale to the reported unit)
    "spark.task_s": ("executorRunTime", 1e-3),
    "spark.jvm_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_mb": ("inputBytes", 1 / 2**20),
    "spark.shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spark.input_rows": ("inputRecords", 1.0),
    "spark.output_bytes": ("outputBytes", 1.0),
}


class EngineProbe:
    """Per-operation Spark counters, attributed by stage-id and job-id
    range. A range also catches jobs that stream threads launch, which a
    job group would miss."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._list = jvm.java.util.ArrayList
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        # Every stream query the package starts, in any session. A
        # StreamingQueryListener sees only its own session's queries, and the
        # package runs streams in sibling sessions too.
        self.queries: list = []
        self._writer = DataStreamWriter
        self._start = DataStreamWriter.start
        probe = self

        def start(writer, *args, **kwargs):
            q = probe._start(writer, *args, **kwargs)
            probe.queries.append(q)
            return q

        DataStreamWriter.start = start

    def close(self) -> None:
        self._writer.start = self._start

    def mark(self) -> tuple[int, int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextStageId(), dag.nextJobId(), len(self.queries)

    def _stages(self, lo: int, hi: int) -> list[dict]:
        out = []
        for sid in range(lo, hi):
            try:
                attempts = self._sc.statusStore().stageData(sid, False, self._list(), False, self._empty)
            except Exception:  # noqa: BLE001 - a stage evicted from the store
                continue
            out.extend(json.loads(self._json.writeValueAsString(attempts)))
        return out

    def cached_mb(self) -> float:
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo()) / 2**20

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Counters for everything launched after ``mark``."""
        self._sc.listenerBus().waitUntilEmpty()
        s_hi, j_hi, q_hi = self.mark()
        stages = [s for s in self._stages(mark[0], s_hi) if s["status"] in ("COMPLETE", "FAILED")]
        out = {k: sum(s[f] for s in stages) * scale for k, (f, scale) in STAGE_SUMS.items()}
        out["spark.jobs"] = j_hi - mark[1]
        out["spark.stages"] = len(stages)
        out["spark.tasks"] = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)
        out["spark.spill_mb"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 2**20
        out["spark.non_jvm_s"] = max(0.0, out["spark.task_s"] - out["spark.jvm_cpu_s"] - out["spark.gc_s"])
        out["session.cached_mb"] = self.cached_mb()
        out.update(self._streaming(self.queries[mark[2]:q_hi]))
        return out

    @staticmethod
    def _streaming(queries) -> dict[str, float]:
        out = dict.fromkeys(
            ["streaming.batches", "streaming.add_batch_ms", "streaming.query_planning_ms",
             "streaming.wal_commit_ms", "streaming.state_rows", "streaming.state_commit_ms"], 0.0)
        for q in queries:
            for p in q.recentProgress:
                d = p["durationMs"] or {}
                out["streaming.batches"] += 1
                out["streaming.add_batch_ms"] += d.get("addBatch", 0)
                out["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
                out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
                for op in p["stateOperators"] or []:
                    out["streaming.state_rows"] += op["numRowsTotal"]
                    out["streaming.state_commit_ms"] += op["commitTimeMs"]
        return out
