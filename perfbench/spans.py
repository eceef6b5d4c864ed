"""In-memory span recorder for the traced run.

The benchmark records spans around the calls it makes into each layer
and, for calls the layers make into each other on server threads,
wraps the layers' public functions at run time from this file. Nothing
in the package is edited; ``Tracer.restore`` puts every original back.

A span is (name, start, end, parent, request id). Spans nest per
thread, and a child inherits its parent's request id. A span's self
time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, req]
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patched: list[tuple] = []

    # -- recording --------------------------------------------------------

    def begin(self, name: str, req: str | None = None) -> int:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent][4]
        with self._lock:
            sid = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, req])
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][2] = time.perf_counter()
        self._tls.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None):
        sid = self.begin(name, req)
        try:
            yield sid
        finally:
            self.end(sid)

    # -- wrapping public functions ------------------------------------------

    def wrap(self, owner, attr: str, name: str, req_of=None) -> None:
        """Replace ``owner.attr`` with a version that records a span.
        ``req_of(args)`` may name the request id for a top-level span.
        Handles plain functions and classmethods."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            req = req_of(args) if req_of is not None else None
            sid = tracer.begin(name, req)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sid)

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------

    def closed(self) -> list[list]:
        return [s for s in self.spans if s[2] is not None]

    def self_times(self) -> list[float]:
        """Self time of every span (index-aligned with ``spans``)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[2] is not None and s[3] is not None:
                child[s[3]] += s[2] - s[1]
        return [
            (s[2] - s[1] - child[i]) if s[2] is not None else 0.0
            for i, s in enumerate(self.spans)
        ]

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s[2] - s[1] for s in self.spans[since:]
                if s[0] == name and s[2] is not None]

    def self_by_layer(self, since: int = 0) -> dict[str, float]:
        """Summed self time per layer (span name up to the first dot) of
        the spans recorded from index ``since`` on."""
        out: dict[str, float] = defaultdict(float)
        self_t = self.self_times()
        for s, st in zip(self.spans[since:], self_t[since:]):
            if s[2] is not None:
                out[s[0].split(".", 1)[0]] += st
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "req"],
                    "spans": self.spans,
                },
                f,
            )


LAYERS = ("service", "api", "serving", "queries", "catalyst", "exec")


def busy_pct(tr: Tracer, since: int, wall: float) -> dict:
    """Self time per layer as a share of ``wall``, over the spans
    recorded from index ``since`` on (can pass 100 when requests overlap
    on several threads)."""
    self_s = tr.self_by_layer(since)
    return {f"{layer}.busy_pct": 100.0 * self_s.get(layer, 0.0) / wall
            for layer in LAYERS}


def wrap_collect(tracer: Tracer, records: list) -> None:
    """Trace every ``DataFrame.collect``: force the executed plan first
    (span ``catalyst.plan``; the collect then reuses that plan), run the
    collect under a job group of its own (span ``exec.collect``), and
    append (job group, collect wall s, plan s, end as epoch s) to
    ``records``, so the time after the collect's last Spark job ended
    (the driver-side fetch) can be read from Spark's job times later."""
    try:  # pyspark 4: the classic (non-Connect) frame implements collect
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    raw = DataFrame.__dict__["collect"]
    lock = threading.Lock()
    seq = [0]

    @functools.wraps(raw)
    def collect(df):
        sc = df.sparkSession.sparkContext
        with lock:
            seq[0] += 1
            gid = f"perfbench-collect-{seq[0]}"
        t0 = time.perf_counter()
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(gid, "perfbench collect")
        try:
            with tracer.span("exec.collect"):
                return raw(df)
        finally:
            t2 = time.perf_counter()
            end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            records.append((gid, t2 - t1, t1 - t0, end))

    DataFrame.collect = collect
    tracer._patched.append((DataFrame, "collect", raw))
