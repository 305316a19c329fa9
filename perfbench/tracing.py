"""Spans and counters recorded from outside the engine.

The benchmark never edits the engine: it replaces public methods on the
engine, table, storage and lineage *instances* with timing wrappers.  The
engine calls its collaborators through ``self.<attr>.<method>``, so an
instance-level wrapper also sees every internal call (``merge`` calling
``self.manifest()``, ``compact`` calling ``self.storage.get`` ...).

Spans are kept in memory and written once, at the end of the run.  Each span
has a name, start, end, parent and trace id; spans of one epoch share the
trace id ``epoch-<id>``, spans of one read operation ``<op>-<n>``.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# method name -> span name, per instrumented layer
TABLE_METHODS = {
    "merge": "manifest.merge",
    "compact": "manifest.compact",
    "vacuum": "manifest.vacuum",
    "manifest": "manifest.head_read",
    "read": "manifest.read",
    "count": "manifest.count",
    "min_max": "manifest.min_max",
}
STORAGE_METHODS = {
    "put_if_absent": "storage.put",
    "get": "storage.get",
    "list": "storage.list",
    "list_dirs": "storage.list",
    "open_input": "storage.get",
    "delete": "storage.delete",
    "delete_prefix": "storage.delete",
}
LINEAGE_METHODS = {"flush": "lineage.flush", "compact": "lineage.compact"}

# Structured Streaming trigger phases, in the order MicroBatchExecution runs
# them inside ``triggerExecution``: offsets are resolved and logged
# (latestOffset, walCommit), the batch is planned (getBatch, queryPlanning)
# and handed to foreachBatch (addBatch), then the commit log is written.
STREAM_PHASES = [
    ("latestOffset", "stream.latest_offset"),
    ("walCommit", "stream.wal_commit"),
    ("getBatch", "stream.get_batch"),
    ("queryPlanning", "stream.query_planning"),
    ("addBatch", "stream.add_batch"),
    ("commitOffsets", "stream.commit_offsets"),
]


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent_id: int | None
    start: float
    end: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.

    Parent links follow a per-thread stack.  Work the engine hands to a
    thread pool (footer reads, segment fetches) starts with an empty stack;
    such spans are parented to the innermost open span of the thread that
    opened the current trace, so they still land in the right epoch.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = 0
        self._trace_id = "setup"
        self._trace_stack: list[Span] | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] += n

    def new_span(
        self, name: str, start: float, end: float, trace_id: str,
        parent_id: int | None, **attrs,
    ) -> Span:
        """Record a span whose interval is already known (Spark progress)."""
        with self._lock:
            self._ids += 1
            s = Span(self._ids, name, trace_id, parent_id, start, end,
                     attrs=attrs)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        # the tracer's own cost (everything here but the traced body) is
        # accumulated, as a direct estimate of what tracing adds
        c0 = time.perf_counter()
        stack = self._stack()
        if trace_id is not None:
            # a new trace: root span on this thread, which becomes the
            # fallback parent for thread-pool work until the trace closes
            parent, tid = None, trace_id
            prev = (self._trace_id, self._trace_stack)
            self._trace_id, self._trace_stack = trace_id, stack
        elif stack:
            parent, tid, prev = stack[-1], stack[-1].trace_id, None
        else:
            try:
                parent = self._trace_stack[-1]
            except (IndexError, TypeError):  # no trace open, or it just closed
                parent = None
            tid, prev = self._trace_id, None
        with self._lock:
            self._ids += 1
            s = Span(self._ids, name, tid,
                     parent.span_id if parent else None, time.time(),
                     attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        self.add("trace.bookkeeping_s", time.perf_counter() - c0)
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.end = time.time()
            c1 = time.perf_counter()
            stack.pop()
            if prev is not None:
                self._trace_id, self._trace_stack = prev
            self.add("trace.bookkeeping_s", time.perf_counter() - c1)

    def wrap(self, obj, methods: dict[str, str], on_result=None) -> None:
        """Replace ``obj.<method>`` with a span-recording wrapper.
        ``on_result(name, args, result)`` derives counters from a call."""
        for meth, name in methods.items():
            orig = getattr(obj, meth)
            setattr(obj, meth, self._wrapped(orig, name, on_result))

    def _wrapped(self, orig, name, on_result):
        @functools.wraps(orig)
        def call(*args, **kwargs):
            with self.span(name):
                res = orig(*args, **kwargs)
            if on_result is not None:
                on_result(name, args, res)
            return res

        return call

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
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
    return covered


def children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            kids[s.parent_id].append(s)
    return kids


def child_cover(s: Span, kids: dict[int, list[Span]]) -> float:
    """The part of ``s``'s interval its children cover (children may
    overlap when the engine fans work out to threads, so this is the union
    of the clipped child intervals)."""
    return union_length(
        (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.span_id])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids = children(spans)
    return {s.span_id: max(0.0, (s.end - s.start) - child_cover(s, kids))
            for s in spans}


def span_table(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total seconds, self seconds."""
    st = self_times(spans)
    rows: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0, "errors": 0}
    )
    for s in spans:
        r = rows[s.name]
        r["calls"] += 1
        r["total_s"] += s.end - s.start
        r["self_s"] += st[s.span_id]
        r["errors"] += s.error is not None
    return dict(rows)


def instrument(tracer: Tracer, engine) -> None:
    """Wrap the engine, its table, the table's storage and the lineage log."""
    def on_table(name, args, res):
        if name == "manifest.merge" and isinstance(res, dict):
            tracer.add("manifest.staged_rows", res.get("staged_rows") or 0)
            tb = res.get("touched_buckets") or []
            tracer.add("manifest.touched_buckets",
                       tb if isinstance(tb, int) else len(tb))

    tracer.wrap(engine.table, TABLE_METHODS, on_table)

    def on_storage(name, args, res):
        if name == "storage.put" and len(args) > 1:
            tracer.add("storage.put_bytes", len(args[1]))
        elif name == "storage.get" and isinstance(res, bytes):
            tracer.add("storage.get_bytes", len(res))

    tracer.wrap(engine.table.storage, STORAGE_METHODS, on_storage)
    tracer.wrap(engine.lineage, LINEAGE_METHODS)

    def on_record(name, args, res):
        rows = args[2] if name == "record_partitions" and len(args) > 2 else None
        tracer.add("lineage.records", len(rows) if rows is not None else 1)

    for meth in ("record_stage", "record_partitions"):
        orig = getattr(engine.lineage, meth)

        def counted(*a, _orig=orig, _meth=meth, **kw):
            res = _orig(*a, **kw)
            on_record(_meth, a, res)
            return res

        setattr(engine.lineage, meth, counted)

    # the epoch is the trace: apply_batch (foreachBatch, on py4j's callback
    # thread) opens a fresh trace per micro-batch id
    inner = engine.apply_batch

    @functools.wraps(inner)
    def apply_batch(batch_df, epoch_id):
        with tracer.span("engine.apply_batch", trace_id=f"epoch-{epoch_id}"):
            return inner(batch_df, epoch_id)

    engine.apply_batch = apply_batch


def add_stream_spans(tracer: Tracer, progress: list[dict]) -> None:
    """Rebuild each trigger of a finished query as spans from its
    ``StreamingQueryProgress`` (start timestamp + per-phase durations).

    Spark reports phase durations, not phase start times, so the phases are
    laid end to end from the trigger start in execution order.  The
    ``engine.apply_batch`` span (the foreachBatch call) is moved under the
    trigger's ``addBatch`` phase, which contains it."""
    epoch_spans = {
        s.trace_id: s for s in tracer.spans
        if s.name == "engine.apply_batch" and s.parent_id is None
    }
    for p in progress:
        dur = p["durationMs"]
        if "addBatch" not in dur:
            continue  # a trigger that found no new data
        tid = f"epoch-{p['batchId']}"
        start = p["start"]
        trig = tracer.new_span(
            "stream.trigger", start, start + dur["triggerExecution"] / 1000,
            tid, None, input_rows=p["numInputRows"],
        )
        t = start
        for key, name in STREAM_PHASES:
            d = dur.get(key, 0) / 1000
            ep = epoch_spans.get(tid)
            if key == "addBatch" and ep is not None:
                # anchor the phase on the measured foreachBatch call
                t = min(t, ep.start)
                d = max(d, ep.end - t)
            ph = tracer.new_span(name, t, t + d, tid, trig.span_id)
            if key == "addBatch" and ep is not None:
                ep.parent_id = ph.span_id
            t += d
        # millisecond phase durations and the two clocks can leave the last
        # phase a few ms past the trigger's end; the trigger contains it
        trig.end = max(trig.end, t)
