"""Layer tracing recorded from outside the package.

``Tracer`` keeps spans in memory (name, start, end, parent, operation id)
and per-operation counters.  ``install_layer_patches`` wraps the entry
point of each engine layer (discover, source reads, stream maps, the
expectation gate, the Singer encoder, the sink write, the merge sink and
the bookmark commit) with a span, and returns a function that restores
the originals.  ``StatusCollector`` reads Spark's status store, which is
populated even with the UI disabled, and sums stage metrics over a set
of jobs.

Self time of a span is its duration minus the union of its child spans'
intervals, so a layer's number never double-counts the layers it calls.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

QUALITY_TAG = "perfbench:quality"


class Tracer:
    def __init__(self) -> None:
        # span: [name, start, end, parent index or None, op id]
        self.spans: list[list[Any]] = []
        self.counters: dict[tuple[int, str], float] = defaultdict(float)
        self.op_id = 0
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def start_op(self, op_id: int) -> None:
        self.op_id = op_id
        self._root = None
        self._root = self.begin("op")

    def end_op(self) -> None:
        if self._root is not None:
            self.end(self._root)
        self._root = None

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[(self.op_id, name)] += value

    def wrap(self, name: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    # ---------------------------------------------------------- reports

    def self_times(self, op_id: int) -> dict[str, float]:
        """Summed self time per span name within one operation."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, s, e, parent, op in self.spans:
            if op == op_id and parent is not None and e is not None:
                children[parent].append((s, e))
        out: dict[str, float] = defaultdict(float)
        for idx, (name, s, e, _, op) in enumerate(self.spans):
            if op != op_id or e is None:
                continue
            out[name] += (e - s) - _covered(children.get(idx, []), s, e)
        return dict(out)

    def op_counters(self, op_id: int) -> dict[str, float]:
        return {n: v for (op, n), v in self.counters.items() if op == op_id}

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for idx, (name, s, e, parent, op) in enumerate(self.spans):
                f.write(json.dumps({"id": idx, "name": name, "start": s,
                                    "end": e, "parent": parent, "op": op}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------ patches


def install_layer_patches(tracer: Tracer, spark) -> Callable[[], None]:
    """Wrap each layer's entry point; returns the undo function."""
    from tap_airbyte_wrapper_spark import maps, sinks, state, sync
    from tap_airbyte_wrapper_spark.sources import Source, list_sources

    saved: list[tuple[Any, str, Any]] = []

    def patch(owner: Any, attr: str, new: Any) -> None:
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def spanned(owner: Any, attr: str, name: str) -> None:
        patch(owner, attr, tracer.wrap(name, owner.__dict__[attr]))

    spanned(sync.Engine, "discover", "sync.discover")
    for cls in {Source, *list_sources().values()}:
        for attr in ("read", "read_incremental"):
            if attr in cls.__dict__:
                spanned(cls, attr, "sources.read_plan")
    spanned(maps.StreamMapper, "apply", "maps.apply")
    spanned(state.BookmarkStore, "commit", "state.commit")
    spanned(sinks, "merge_snapshot_write", "sinks.merge")

    sc = spark.sparkContext
    check = sync.Engine.__dict__["_check_expectations"]

    @functools.wraps(check)
    def check_tagged(self, stream, df):
        # tag the gate's jobs so they can be counted even when streams
        # run concurrently
        prev = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", QUALITY_TAG)
        idx = tracer.begin("quality.expect")
        try:
            return check(self, stream, df)
        finally:
            tracer.end(idx)
            sc.setLocalProperty("spark.job.description", prev)

    patch(sync.Engine, "_check_expectations", check_tagged)

    write = sync.Engine.__dict__["_write"]

    @functools.wraps(write)
    def write_traced(self, df, stream_name, entry, pks, sink, out):
        stdout = sink.get("type", "stdout") == "stdout"
        idx = tracer.begin("singer_io.stdout_write" if stdout else "sinks.write")
        try:
            return write(self, df, stream_name, entry, pks, sink, out)
        finally:
            tracer.end(idx)

    patch(sync.Engine, "_write", write_traced)

    encode = sync.__dict__["singer_message"]

    @functools.wraps(encode)
    def encode_timed(message):
        # one call per record: aggregated per operation instead of a span
        t = time.perf_counter()
        line = encode(message)
        tracer.add("singer_io.encode_s", time.perf_counter() - t)
        tracer.add("singer_io.encode_calls", 1)
        return line

    patch(sync, "singer_message", encode_timed)

    def undo() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


# ------------------------------------------------------------ status store


class StatusCollector:
    """Stage metrics of the jobs an operation started, from the status
    store (``statusStore().lastStageAttempt``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()

    def job_ids(self) -> set[int]:
        self._jsc.listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def summarize(self, job_ids: set[int]) -> dict[str, Any]:
        """Sums over ``job_ids``; ``intervals`` holds each job's
        (submitted, completed) epoch seconds."""
        self._jsc.listenerBus().waitUntilEmpty()
        out: dict[str, Any] = {
            "spark.jobs": 0, "spark.tasks": 0, "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0, "spark.input_bytes": 0,
            "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0,
            "spark.gc_s": 0.0, "quality.jobs": 0, "intervals": []}
        seen: set[int] = set()
        for jid in sorted(job_ids):
            try:
                jd = self.store.job(jid)
            except Py4JJavaError:  # evicted from the store: nothing to count
                continue
            out["spark.jobs"] += 1
            desc = jd.description()
            if desc.isDefined() and desc.get() == QUALITY_TAG:
                out["quality.jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append((sub.get().getTime() / 1000.0,
                                         done.get().getTime() / 1000.0))
            stages = jd.stageIds()
            for k in range(stages.size()):
                sid = stages.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.tasks"] += sd.numTasks()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.input_bytes"] += sd.inputBytes()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += (sd.memoryBytesSpilled()
                                             + sd.diskBytesSpilled())
                out["spark.gc_s"] += sd.jvmGcTime() / 1e3
        return out


def interval_union(intervals: list[tuple[float, float]]) -> float:
    return _covered(intervals, float("-inf"), float("inf"))
