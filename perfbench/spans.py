"""Span recording around the engine's public functions, from outside.

The benchmark's traced run (``--trace 1``) installs wrappers around the
public entry points of ``ql``, ``search``, ``wand``, ``select``,
``commands``, ``build`` and ``streaming`` (``install``). Each wrapped
call records a span (name, start, end, parent, request id, attributes)
in memory; ``Recorder.dump`` writes them out once, at the end of the
run. Nothing here changes what a call computes: a wrapper times the
original function and returns its result unchanged. The untraced run
installs nothing.

Counts taken at the same boundaries:

- Spark jobs launched, as the delta of the scheduler's next job id
  (``JobCounter``), which also counts jobs started from the build's
  segment threads;
- bytes the Spark driver process read, as the delta of ``rchar`` in
  ``/proc/self/io``;
- posting blocks decoded, through ``scripts/benchlib.spy_decodes``;
- the build's finalize phases, read from ``build.FINALIZE_PHASES``
  after each ``finalize_index`` call.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


def read_rchar() -> int:
    """Bytes read by this process so far (``/proc/self/io`` rchar), or
    -1 where the file does not exist."""
    try:
        with open("/proc/self/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return -1


class JobCounter:
    """Spark job-id high-water mark of one SparkContext: job ids are
    handed out sequentially by the DAG scheduler, so the difference of
    two readings is the number of jobs submitted in between, from any
    thread."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def mark(self) -> int:
        return int(self._dag.nextJobId())


class Recorder:
    """In-memory span store. Spans of one request share its id; a span's
    parent is the innermost open span of its thread or, for work a call
    hands to another thread (the build's segment pool), the innermost
    open span of the thread that opened the request."""

    def __init__(self):
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_id = 1
        self.request_id: str | None = None
        self._root_stack: list[int] | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        st = self._stack()
        root = self._root_stack
        parent = st[-1] if st else (root[-1] if root else None)
        rec = {"id": sid, "name": name, "parent": parent,
               "request": self.request_id, "attrs": attrs}
        if parent is None:
            self._root_stack = st
        st.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            if parent is None:
                self._root_stack = None
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def request(self, request_id: str, name: str, **attrs):
        """Root span of one benchmark request."""
        self.request_id = request_id
        try:
            with self.span(name, **attrs) as a:
                yield a
        finally:
            self.request_id = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=float) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    iv = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def _encoded_bytes(blocks) -> int:
    cols = [c for c in ("doc_deltas", "tfs", "dls", "positions")
            if c in blocks.columns]
    return int(sum(blocks[c].map(len).sum() for c in cols))


class Tracer:
    """Installs and removes the span wrappers (``install`` /
    ``uninstall``); ``active`` is False while removed, so the traced
    run can interleave untraced requests to measure the overhead."""

    def __init__(self, rec: Recorder, jobs: JobCounter):
        self.rec = rec
        self.jobs = jobs
        self._saved: list[tuple[object, str, object]] = []
        self.active = False

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)
        self.active = False

    def install(self) -> None:
        import importlib

        from benchlib import spy_decodes

        import groonga_spark.build as build
        import groonga_spark.commands as commands
        import groonga_spark.ql as ql
        import groonga_spark.search as search
        import groonga_spark.streaming as streaming
        import groonga_spark.wand as wand

        # the package lazily re-exports a function named ``select``:
        # fetch the module by name
        select_mod = importlib.import_module("groonga_spark.select")
        rec, jobs = self.rec, self.jobs

        def timed(name, fn, io=False, count_jobs=False):
            def wrapper(*a, **kw):
                j0 = jobs.mark() if count_jobs else None
                r0 = read_rchar() if io else None
                with rec.span(name) as at:
                    out = fn(*a, **kw)
                if r0 is not None:
                    at["read_bytes"] = read_rchar() - r0
                if j0 is not None:
                    at["spark_jobs"] = jobs.mark() - j0
                return out
            wrapper.__wrapped__ = fn
            return wrapper

        orig_parse = ql.parse_query
        traced_parse = timed("ql.parse_query", orig_parse)
        self._patch(ql, "parse_query", traced_parse)
        self._patch(search, "parse_query", traced_parse)

        FI = search.FulltextIndex
        self._patch(FI, "search", timed("search.search", FI.search,
                                        io=True, count_jobs=True))
        self._patch(FI, "match_docs", timed("search.match_docs",
                                            FI.match_docs, io=True))
        self._patch(FI, "delete_docs", timed("search.delete_docs",
                                             FI.delete_docs))

        # patched on the class itself (not swapped for a subclass), so a
        # kernel pickled to executors still refers to the plain class
        K = wand.SegmentQueryKernel
        k_init, k_run, k_eval = K.__init__, K.run, K.eval

        def kernel_init(self, blocks, plan, stats, k):
            with rec.span("wand.kernel_init", blocks=len(blocks),
                          encoded_bytes=_encoded_bytes(blocks)):
                k_init(self, blocks, plan, stats, k)

        def spied(name, fn):
            """run/eval as one span counting decodes; run may call eval
            and eval recurses, so only the outermost call is a span"""
            def method(self, node):
                if getattr(self, "_traced_call", False):
                    return fn(self, node)
                self._traced_call = True
                try:
                    with rec.span(name) as at:
                        out, at["blocks_decoded"] = spy_decodes(
                            lambda: fn(self, node))
                finally:
                    self._traced_call = False
                return out
            return method

        self._patch(K, "__init__", kernel_init)
        self._patch(K, "run", spied("wand.run", k_run))
        self._patch(K, "eval", spied("wand.eval", k_eval))

        self._patch(select_mod, "select",
                    timed("select.select", select_mod.select))
        self._patch(commands, "execute",
                    timed("commands.execute", commands.execute,
                          count_jobs=True))

        self._patch(build, "build_index",
                    timed("build.build_index", build.build_index,
                          count_jobs=True))
        orig_segment = build.build_segment

        def traced_segment(spark, store, docs, segment, lo, hi, *a, **kw):
            with rec.span("build.build_segment", lo=int(lo), hi=int(hi)):
                return orig_segment(spark, store, docs, segment, lo, hi,
                                    *a, **kw)

        self._patch(build, "build_segment", traced_segment)
        orig_finalize = build.finalize_index

        def traced_finalize(*a, **kw):
            with rec.span("build.finalize_index") as at:
                out = orig_finalize(*a, **kw)
            at["phases"] = dict(build.FINALIZE_PHASES)
            return out

        self._patch(build, "finalize_index", traced_finalize)
        self._patch(streaming, "append_docs",
                    timed("streaming.append_docs", streaming.append_docs,
                          count_jobs=True))
        self.active = True
