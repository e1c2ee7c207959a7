"""Spans around the calls into each layer, recorded from the benchmark's
own code (the program itself carries no tracing).

A traced run installs wrappers on the public entry points named in
:data:`PATCHES`, hands ``serving.start_server`` a handler class whose
``do_GET`` opens a span, and gives every span its own Spark job group so
the Spark work a layer launched can be read back from the status store
after the run. Spans live in memory and are written out once at the end.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import threading
import time
from dataclasses import dataclass, field

# (module, attribute, span name). api, compaction and manifest resolve these
# through module attributes at call time (compaction and manifest are
# imported lazily inside api), so replacing the attribute reaches every
# caller.
PATCHES = (
    ("accumulo_wikisearch_spark.serving", "_rows", "serving.collect"),
    ("accumulo_wikisearch_spark.api", "run_query", "plans.plan"),
    ("accumulo_wikisearch_spark.plans.parser", "parse", "plans.parse"),
    ("accumulo_wikisearch_spark.operators.compaction", "raw_delta_names", "api.probe"),
    ("accumulo_wikisearch_spark.operators.manifest", "manifest_version", "api.probe"),
    # the merge-read load: under a request it is the facade's heal
    ("accumulo_wikisearch_spark.operators.compaction", "load_index_with_deltas", "compaction.load_with_deltas"),
    ("accumulo_wikisearch_spark.operators.manifest", "adopt_generation", "manifest.adopt"),
)
# facade methods the serving front calls; the proxy engine spans each one
API_METHODS = ("query", "fetch_documents", "scored_search_bm25", "phrase_search")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    req: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    epoch_ms: tuple[float, float] = (0.0, 0.0)  # wall clock, to match job times


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a no-op, so the
    untraced run shares the benchmark's code path."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc, self.enabled = sc, enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
            req = stack[-1].req if req is None else req
        s = Span(next(self._ids), name, parent, req, time.perf_counter())
        epoch0 = time.time() * 1e3
        s.group = f"pb-{s.sid}"
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.epoch_ms = (epoch0, time.time() * 1e3)
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def install(self) -> None:
        """Wrap the entry points in :data:`PATCHES` and the serving
        handler; :meth:`uninstall` restores them."""
        if not self.enabled:
            return
        for mod_name, attr, name in PATCHES:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._undo.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(orig, name))
        serving = importlib.import_module("accumulo_wikisearch_spark.serving")
        orig_make = serving.make_handler
        self._undo.append((serving, "make_handler", orig_make))
        tracer = self

        def make_handler(engine):
            base = orig_make(engine)

            class TracedHandler(base):
                def do_GET(self):  # noqa: N802 (stdlib API name)
                    req = int(self.headers.get("X-Bench-Req", "0")) or None
                    parent = int(self.headers.get("X-Bench-Span", "0")) or None
                    with tracer.span("serving.handle", req=req, parent=parent):
                        return super().do_GET()

            return TracedHandler

        serving.make_handler = make_handler

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()

    def engine(self, eng):
        """The engine handed to ``start_server``: spans each facade call
        the serving front makes, passes everything else through."""
        return _ProxyEngine(eng, self) if self.enabled else eng

    # -- read-back ---------------------------------------------------------

    def attach_jobs(self, serial: tuple[str, ...] = ()) -> None:
        """Fill each span's Spark job ids from its job group (after the
        listener bus has drained, so every finished job is visible).

        Jobs the program submits from its own worker threads carry no
        group (``write_index`` and ``materialize`` use thread pools). Root
        spans named in ``serial`` run while nothing else does, so they
        also take every group-less job submitted inside their interval."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(st.getJobIdsForGroup(s.group))
        store = jsc.statusStore()
        loose = []
        for j in st.getJobIdsForGroup(None):
            sub = store.job(j).submissionTime()
            if sub.isDefined():
                loose.append((sub.get().getTime(), j))
        for s in self.spans:
            if s.parent is None and s.name in serial:
                lo, hi = s.epoch_ms
                s.jobs = sorted(set(s.jobs) | {j for t, j in loose if lo <= t <= hi})


class _ProxyEngine:
    def __init__(self, eng, tracer: Tracer):
        self._eng, self._tracer = eng, tracer

    def __getattr__(self, name):
        attr = getattr(self._eng, name)
        if name in API_METHODS:
            return self._tracer.wrap(attr, f"api.call.{name}")
        return attr


# -- span arithmetic ---------------------------------------------------------


def clip_to_parents(spans: list[Span]) -> dict[int, tuple[float, float]]:
    """Each span's interval clipped to its ancestors' intervals: a handler
    span can outlive the client span that caused it by the few
    microseconds between writing the last byte and returning."""
    by_id = {s.sid: s for s in spans}
    out: dict[int, tuple[float, float]] = {}

    def get(s: Span) -> tuple[float, float]:
        if s.sid not in out:
            lo, hi = s.start, s.end
            p = by_id.get(s.parent) if s.parent is not None else None
            if p is not None:
                plo, phi = get(p)
                lo, hi = max(lo, plo), min(hi, phi)
                hi = max(hi, lo)
            out[s.sid] = (lo, hi)
        return out[s.sid]

    for s in spans:
        get(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's (clipped)
    intervals, in seconds."""
    iv = clip_to_parents(spans)
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.parent in iv:
            kids.setdefault(s.parent, []).append(iv[s.sid])
    out = {}
    for s in spans:
        lo, hi = iv[s.sid]
        covered, cur = 0.0, None
        for a, b in sorted(kids.get(s.sid, [])):
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s.sid] = (hi - lo) - covered
    return out
