"""Traced runs: spans around calls into the engine's modules, recorded
from the benchmark's side, plus Spark job/stage counters per operation.

``Tracer.wrap`` replaces a public function or method with a wrapper that
opens a span per call; ``Tracer.restore`` puts every original back.
Spans keep their parent (the innermost open span of the same thread)
and live in memory until ``write`` dumps them as JSON. Spans made by
``wrap`` are layer spans. Those the benchmark opens with ``span``
around its own code or a client library (a Spark action, an HTTP
request) are not, and never count as layer time; one that times a
third-party engine running the engine's plan (a DuckDB query over an
attached table) is opened with ``layer=True``, as Spark's stages count.

``Tracer.op`` scopes one benchmark operation: it gives the operation its
own Spark job group and, after the operation's timer has stopped, reads
each of the group's stages from the Spark status store."""

from __future__ import annotations

import bisect
import contextlib
import itertools
import json
import threading
import time
from typing import Any, Callable

from measure import median


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs", "thread",
                 "layer")

    def __init__(self, sid: int, parent: int | None, name: str, thread: int,
                 layer: bool):
        self.id = sid
        self.parent = parent
        self.name = name
        self.start = time.time()
        self.end = self.start
        self.attrs: dict[str, Any] = {}
        self.thread = thread
        self.layer = layer

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "thread": self.thread,
            "layer": self.layer,
            "attrs": self.attrs,
        }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark: Any):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._originals: list[tuple[Any, str, Any]] = []
        self._group_seq = itertools.count(1)

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: bool = False):
        stack = self._stack()
        sp = Span(
            next(self._ids),
            stack[-1].id if stack else None,
            name,
            threading.get_ident(),
            layer,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        after: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        """Trace every call of ``owner.attr`` as span ``name``. ``after``
        runs once the span has closed, with the call's arguments and
        result, to attach counts without timing them."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer=True) as sp:
                result = original(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, result)
            return result

        traced.__wrapped__ = original
        self._originals.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._originals):
            setattr(owner, attr, original)
        self._originals.clear()

    def open_spans(self) -> list[Span]:
        """This thread's open spans, outermost first."""
        return list(self._stack())

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self) -> dict[int, list[Span]]:
        """Direct children of every span, by parent id."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, sp: Span, child_name: str,
                  kids: dict[int, list[Span]]) -> float:
        """``sp``'s duration minus the part covered by its direct children
        named ``child_name``."""
        return sp.dur - _union_length([
            (c.start, c.end) for c in kids.get(sp.id, [])
            if c.name == child_name
        ])

    # -- operations ----------------------------------------------------

    @contextlib.contextmanager
    def op(self, name: str):
        """One timed benchmark operation: own Spark job group, an ``op:``
        span, and a stage-metrics record read after the span closes."""
        group = f"perfbench-{name}-{next(self._group_seq)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"perfbench {name}")
        try:
            with self.span(f"op:{name}") as sp:
                yield sp
        finally:
            sc.setJobGroup("perfbench-idle", "perfbench idle")
        record = {"op": name, "span": sp.id, "wall_s": sp.dur}
        record.update(self._stage_metrics(sc, group, sp))
        with self._lock:
            self.ops.append(record)

    def _stage_metrics(self, sc: Any, group: str, sp: Span) -> dict[str, Any]:
        tracker = sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        # the status store is fed by an asynchronous listener: wait until
        # every job of the group shows a terminal state before reading
        deadline = time.time() + 10.0
        while True:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos) or time.time() > deadline:
                break
            time.sleep(0.01)
        store = sc._jsc.sc().statusStore()
        stages = tasks = 0
        run_ms = cpu_ns = shuffle = spill = 0
        intervals: list[tuple[float, float]] = []
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 - skipped stage: no attempt
                    continue
                if str(sd.status().toString()) != "COMPLETE":
                    continue
                stages += 1
                tasks += int(sd.numTasks())
                run_ms += int(sd.executorRunTime())
                cpu_ns += int(sd.executorCpuTime())
                shuffle += int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes())
                spill += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    s = max(sp.start, sub.get().getTime() / 1000.0)
                    e = min(sp.end, done.get().getTime() / 1000.0)
                    if e > s:
                        intervals.append((s, e))
        return {
            "stage_intervals": intervals,
            "jobs": len(job_ids),
            "stages": stages,
            "tasks": tasks,
            "executor_run_s": run_ms / 1000.0,
            "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "gap_s": sp.dur - _union_length(intervals),
        }

    def op_records(self, name: str) -> list[dict[str, Any]]:
        return [r for r in self.ops if r["op"] == name]

    def coverage(self, name: str, entry: str | None = None) -> float | None:
        """Median share of an operation's wall covered by layer time: the
        layer spans of any thread inside it (the server thread's too)
        other than ``entry``, the engine call the operation consists of,
        plus the intervals its Spark stages ran. The benchmark's own spans
        never count, so time that no layer below the entry point accounts
        for (unspanned engine code, Spark's driver-side work between
        stages, the HTTP client) lowers it."""
        by_id = {s.id: s for s in self.spans}
        spans = sorted((s for s in self.spans if s.layer and s.name != entry),
                       key=lambda s: s.start)
        starts = [s.start for s in spans]
        fracs = []
        for rec in self.op_records(name):
            op = by_id[rec["span"]]
            if op.dur <= 0:
                continue
            lo = bisect.bisect_left(starts, op.start)
            hi = bisect.bisect_left(starts, op.end)
            inside = [(s.start, min(s.end, op.end)) for s in spans[lo:hi]]
            fracs.append(
                _union_length(inside + rec["stage_intervals"]) / op.dur)
        return median(fracs) if fracs else None

    def write(self, path: str, extra: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.to_json() for s in self.spans],
                    "ops": self.ops,
                    **extra,
                },
                fh,
                default=str,
            )

