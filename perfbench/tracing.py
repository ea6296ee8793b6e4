"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's own files by wrapping the
public callables of each engine layer (``wrap``); the engine itself
carries no tracing code. A span has a name, start, end, parent span and
the operation (request, cycle or batch) it belongs to. Boundaries that
are crossed thousands of times per operation (py4j commands, log-store
calls, Spark actions) are recorded as counters instead of spans: a
count and the time spent, charged to the operation running on the
calling thread.

Spans are kept in memory and summarised when the run ends. A span's
self time is its duration minus the time its child spans cover; the
tracer's own bookkeeping time is measured and reported as overhead.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

_clock = time.perf_counter


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "child_s")

    def __init__(self, name, start, parent, op):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.op = op
        self.child_s = 0.0

    @property
    def dur_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s


class Tracer:
    """Thread-aware span and counter recorder.

    With ``enabled=False`` nothing is wrapped, so an untraced run
    executes the engine unmodified.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # op -> counter name -> [count, seconds]
        self.counters: dict = defaultdict(lambda: defaultdict(lambda: [0, 0.0]))
        self.overhead_s: dict[int, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_op = 0

    # -- per-thread state ---------------------------------------------
    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack = []
            st.open = defaultdict(int)  # span name -> open spans of it
            st.op = None
            st.quiet = 0
        return st

    def add_overhead(self, op, seconds: float) -> None:
        if op is not None:
            self.overhead_s[op] += seconds

    def current_op(self):
        return self._state().op

    # -- operations ---------------------------------------------------
    def begin_op(self) -> int:
        with self._lock:
            op = self._next_op
            self._next_op += 1
        self._state().op = op
        return op

    def end_op(self) -> None:
        self._state().op = None

    # -- spans --------------------------------------------------------
    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name):
        t0 = _clock()
        st = self._state()
        parent = st.stack[-1] if st.stack else None
        sp = Span(name, 0.0, parent, st.op)
        st.stack.append(sp)
        st.open[name] += 1
        with self._lock:
            self.spans.append(sp)
        sp.start = _clock()
        self.add_overhead(st.op, sp.start - t0)
        return sp

    def _close(self, sp):
        sp.end = _clock()
        st = self._state()
        st.stack.pop()
        st.open[sp.name] -= 1
        if sp.parent is not None:
            sp.parent.child_s += sp.dur_s
        self.add_overhead(sp.op, _clock() - sp.end)

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.

        Only the outermost call of a span name on a thread opens a span
        (``read_where_in`` falling back to ``read`` is one
        ``versioned.read``). ``after(result, args, kwargs)`` runs
        outside the span to record counters derived from the call
        (ratios, file counts); its time counts as tracer overhead."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._state().open[name]:
                return fn(*args, **kwargs)
            sp = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(sp)
            if after is not None and sp.op is not None:
                t0 = _clock()
                with tracer.quiet():
                    after(result, args, kwargs)
                tracer.add_overhead(sp.op, _clock() - t0)
            return result

        setattr(owner, attr, wrapper)

    # -- counters -----------------------------------------------------
    def count(self, name: str, n: float = 1) -> None:
        op = self._state().op
        if op is not None:
            self.counters[op][name][0] += n

    def quiet(self):
        """Context in which counted boundaries are not counted (the
        tracer's own calls into the engine)."""
        return _Quiet(self._state())

    def counted(self, owner, attr: str, name: str):
        """Wrap ``owner.attr`` as a counted boundary: calls and time
        charged to the calling thread's operation. Only the outermost
        call counts (an action that calls another action counts once).
        The wrapper's own bookkeeping counts as tracer overhead."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self
        depth_key = "depth_" + name

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t_in = _clock()
            st = tracer._state()
            op = st.op
            if st.quiet or op is None or getattr(st, depth_key, 0):
                tracer.add_overhead(op, _clock() - t_in)
                return fn(*args, **kwargs)
            setattr(st, depth_key, 1)
            t0 = _clock()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = _clock()
                setattr(st, depth_key, 0)
                c = tracer.counters[op][name]
                c[0] += 1
                c[1] += t1 - t0
                tracer.add_overhead(op, (t0 - t_in) + (_clock() - t1))

        setattr(owner, attr, wrapper)

    # -- summaries ----------------------------------------------------
    def per_op(self) -> dict:
        """op -> {span name: [total_s, self_s]} over finished spans."""
        out: dict = defaultdict(lambda: defaultdict(lambda: [0.0, 0.0]))
        for sp in self.spans:
            if sp.op is not None and sp.end is not None:
                agg = out[sp.op][sp.name]
                agg[0] += sp.dur_s
                agg[1] += sp.self_s
        return out

    def check_nesting(self) -> list[str]:
        """Violations of the span invariants: negative self time, or
        children covering more than their parent."""
        bad = []
        for sp in self.spans:
            if sp.end is None:
                continue
            if sp.self_s < -1e-9:
                bad.append(f"{sp.name}: self time {sp.self_s:.6f}s < 0")
            if sp.parent is not None and sp.parent.end is not None and (
                sp.start < sp.parent.start or sp.end > sp.parent.end
            ):
                bad.append(f"{sp.name}: outside parent {sp.parent.name}")
        return bad


class _SpanCtx:
    def __init__(self, tracer, name):
        self.tracer = tracer
        self.name = name
        self.sp = None

    def __enter__(self):
        if self.tracer.enabled:
            self.sp = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sp is not None:
            self.tracer._close(self.sp)
        return False


class _Quiet:
    def __init__(self, st):
        self.st = st

    def __enter__(self):
        self.st.quiet += 1

    def __exit__(self, *exc):
        self.st.quiet -= 1
        return False
