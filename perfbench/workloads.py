"""The benchmark workloads: ``search`` and ``ingest``.

Each is a closed loop with one client thread (``FulltextIndex`` and
``CommandContext`` are not thread-safe), driven for a fixed number of
seconds against the engine's public API. Every answer is kept and
checked against the oracle after the timed loop, so checking costs no
request time.

A workload returns a ``Run``: per-request records, write timings,
failures and set-up timings. In a traced run, requests are traced in
alternating pairs (two traced, two untraced), so the same stream gives
both the per-layer spans and the tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
from oracle import Oracle

#: corpus and stream sizes, chosen so one run (JVM start, set-up build,
#: timed loop) stays well under a minute on 4 cores
N_DOCS = 10_000
N_TERMS = 100_000
POOL = 1024          # distinct queries; > FulltextIndex.RESULT_CACHE_MAX
APPEND_BATCH = 200   # docs per ingest micro-batch
DELETES_PER_CYCLE = 3
BURST = 32           # searches after each ingest write ...
SEARCHES_PER_SELECT = 16  # ... with a select after every 16 of them
PRE_BURST = 36       # untimed searches before the first write (18 new texts)
CYCLE_S = 8          # nominal seconds of one ingest cycle on 4 cores
WARM_SEARCHES = 4    # untimed, uncached searches before the timed loop


@dataclass
class Run:
    workload: str
    seed: int
    setup: dict = field(default_factory=dict)       # name -> seconds
    t_loop: float = 0.0                             # when timing began
    wall_s: float = 0.0                             # timed loop wall
    requests: list = field(default_factory=list)    # main-op records
    writes: list = field(default_factory=list)      # build/append records
    deletes: list = field(default_factory=list)     # delete seconds
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    build: dict = field(default_factory=dict)       # set-up / bulk build

    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{what}: {err}")


class Env:
    """What a workload needs from the runner: the session, the work
    directory, the tracer (None in the untraced run), the Spark job
    counter and the run length."""

    def __init__(self, spark, work: str, tracer, jobs, seconds: float):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.jobs = jobs
        self.seconds = seconds

    def tracing(self, on: bool) -> None:
        tr = self.tracer
        if tr is None or tr.active == on:
            return
        if on:
            tr.install()
        else:
            tr.uninstall()

    def request(self, rid: str, name: str):
        """Root span of one request, when tracing is installed."""
        if self.tracer is None or not self.tracer.active:
            return contextlib.nullcontext()
        return self.tracer.rec.request(rid, name)

    def traced(self, i: int) -> bool:
        """Requests 0-1 traced, 2-3 not, ... in a traced run."""
        return self.tracer is not None and (i // 2) % 2 == 0


# -- shared pieces ------------------------------------------------------------

def write_corpus(corpus, path: str) -> int:
    """Write ``corpus`` as one parquet file; returns its text bytes."""
    import pyarrow.parquet as pq

    tbl = corpus.arrow_table()
    pq.write_table(tbl, path)
    return sum(len(t.encode()) for t in tbl.column("text").to_pylist())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def index_bytes(path: str) -> dict:
    parts = {k: dir_bytes(os.path.join(path, k))
             for k in ("postings", "lexicon", "doc_map")}
    parts["other"] = dir_bytes(path) - sum(parts.values())
    return parts


def _write_record(env: Env, kind: str, fn) -> dict:
    """Time one build or append; driver CPU and Spark jobs ride along."""
    c0 = os.times()
    j0 = env.jobs.mark()
    t0 = time.perf_counter()
    fn()
    s = time.perf_counter() - t0
    c1 = os.times()
    return {"kind": kind, "s": s, "jobs": env.jobs.mark() - j0,
            "cpu_s": (c1.user - c0.user) + (c1.system - c0.system)}


def generate(env: Env, run: Run, seed: int):
    """Corpus, its oracle and the query pool (queries with at least one
    hit); the corpus goes to parquet for the engine."""
    t0 = time.perf_counter()
    corpus = gen.make_corpus(seed, N_DOCS, N_TERMS)
    corpus_dir = os.path.join(env.work, "corpus")
    os.makedirs(corpus_dir)
    text_bytes = write_corpus(corpus, os.path.join(corpus_dir,
                                                   "part-00000.parquet"))
    oracle = Oracle(corpus)
    pool = gen.make_query_pool(seed, corpus, POOL,
                               keep=lambda spec: oracle.match_count(spec) > 0)
    run.setup["generate_s"] = time.perf_counter() - t0
    return corpus, corpus_dir, text_bytes, pool, oracle


def bulk_build(env: Env, run: Run, corpus_dir: str, text_bytes: int,
               n_docs: int) -> str:
    """One ``build_index(resume=False)`` of the corpus; its figures go
    to ``run.build`` (build_docs_per_s, index_bytes_per_text_byte)."""
    import groonga_spark.build as B

    idx = os.path.join(env.work, "index")
    docs = env.spark.read.parquet(corpus_dir)
    env.tracing(True)
    with env.request("b0", "request.build"):
        rec = _write_record(env, "build", lambda: B.build_index(
            env.spark, docs, idx, resume=False))
    run.writes.append(rec)
    run.build = {"s": rec["s"], "docs": n_docs, "text_bytes": text_bytes,
                 "index_bytes": index_bytes(idx)}
    return idx


def _search_once(env: Env, idx, q: str, rid: str):
    """One search request: ``search(q, k=10)`` plus ``.collect()``."""
    tr = env.tracer
    if tr is not None and tr.active:
        with tr.rec.request(rid, "request.search"):
            df = idx.search(q, k=10)
            with tr.rec.span("search.collect"):
                return df.collect()
    return idx.search(q, k=10).collect()


def _timed(env: Env, run: Run, i: int, op: str, shape: str, repeat: bool,
           fn):
    """Run one request, record it; None when it raised (a failed op)."""
    traced = env.traced(i)
    env.tracing(traced)
    run.attempted += 1
    j0 = env.jobs.mark()
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:  # a raising request is a failed op; keep going
        run.fail(f"{op} {shape} r{i}", traceback.format_exc(limit=3))
        return None
    dt = time.perf_counter() - t0
    run.requests.append({"id": f"r{i}", "op": op, "s": dt, "shape": shape,
                         "repeat": repeat, "traced": traced,
                         "jobs": env.jobs.mark() - j0})
    return out


def _check_searches(run: Run, checks: list, oracle_at) -> None:
    for epoch, spec, q, rows in checks:
        why = oracle_at(epoch).check_topk(
            spec, [r[0] for r in rows], [r[1] for r in rows], k=10)
        if why is not None:
            run.fail(f"search {q!r}", why)


# -- search -------------------------------------------------------------------

def search(env: Env, seed: int) -> Run:
    """Read-only top-10 searches on the result-cached handle."""
    from groonga_spark.search import FulltextIndex

    run = Run("search", seed)
    corpus, corpus_dir, text_bytes, pool, oracle = generate(env, run, seed)
    idx_path = bulk_build(env, run, corpus_dir, text_bytes, corpus.n_docs)
    env.tracing(False)
    t0 = time.perf_counter()
    idx = FulltextIndex(env.spark, idx_path)
    rng = np.random.default_rng([seed, 9])
    for j in rng.choice(len(pool), WARM_SEARCHES, replace=False):
        # uncached, so the stream's first request still misses
        idx.search(pool[int(j)][1], k=10, use_cache=False).collect()
    run.setup["warm_s"] = time.perf_counter() - t0

    stream = gen.RequestStream(seed, 0, pool)
    checks = []
    run.t_loop = time.perf_counter()
    deadline = run.t_loop + env.seconds
    i = 0
    while time.perf_counter() < deadline:
        j, repeat = stream.next()
        shape, q, spec = pool[j]
        rows = _timed(env, run, i, "search", shape, repeat,
                      lambda: _search_once(env, idx, q, f"r{i}"))
        if rows is not None:
            checks.append((0, spec, q, rows))
        i += 1
    run.wall_s = time.perf_counter() - run.t_loop
    env.tracing(False)
    _check_searches(run, checks, lambda _e: oracle)
    return run


# -- select -------------------------------------------------------------------

class Selects:
    """Groonga ``select`` commands over the query pool, through
    ``commands.execute`` on a registered table plus index: the pool
    query, ``year >= Y`` (Y seeded per query), ``-_score`` sort, three
    output columns, ``limit=10`` and a drilldown on ``category``."""

    def __init__(self, env: Env, seed: int, pool: list, corpus_dir: str,
                 idx):
        import groonga_spark.commands as C

        self._commands = C  # execute is looked up per call: tracing wraps it
        self.env, self.pool, self.idx = env, pool, idx
        self.corpus_dir = corpus_dir
        self.ctx = C.CommandContext(env.spark)
        rng = np.random.default_rng([seed, 5])
        self.year_min = rng.integers(gen.YEAR_MIN, gen.YEAR_MAX - 3,
                                     len(pool))
        self.checks: list = []
        self.register()

    def register(self) -> None:
        """(Re)read the table, so rows appended since show up."""
        self.ctx.register("Docs", self.env.spark.read.parquet(
            self.corpus_dir), index=self.idx)

    def send(self, j: int):
        return self._commands.execute(
            self.ctx, "select", table="Docs", query=self.pool[j][1],
            filter=f"year >= {int(self.year_min[j])}", sort_keys="-_score",
            output_columns="doc_id,_score,category", limit=10,
            drilldown="category")

    def timed(self, run: Run, i: int, j: int, repeat: bool,
              epoch: int) -> None:
        """Send select ``j`` as timed request ``i``; its answer is
        checked later against the oracle of index state ``epoch``."""
        def req():
            with self.env.request(f"r{i}", "request.select"):
                return self.send(j)

        body = _timed(self.env, run, i, "select", self.pool[j][0], repeat,
                      req)
        if body is not None:
            hits = body[0]
            run.requests[-1].update(n_hits=hits[0][0], rows=len(hits) - 2)
            self.checks.append((epoch, j, body))

    def check(self, run: Run, oracle_at) -> None:
        for epoch, j, body in self.checks:
            y = int(self.year_min[j])
            why = _check_select(oracle_at(epoch), self.pool[j][2], y, body)
            if why is not None:
                run.fail(f"select {self.pool[j][1]!r} year>={y}", why)


def _check_select(oracle: Oracle, spec, year_min: int, body) -> str | None:
    """n_hits, the top rows and the drilldown groups against the oracle."""
    hits, dd = body[0], body[1]
    n_hits = hits[0][0]
    want = oracle.match_count(spec, year_min)
    if n_hits != want:
        return f"n_hits {n_hits}, oracle {want}"
    cols = [c[0] for c in hits[1]]
    rows = hits[2:]
    docs = [r[cols.index("doc_id")] for r in rows]
    scores = [r[cols.index("_score")] for r in rows]
    why = oracle.check_topk(spec, docs, scores, k=10, year_min=year_min)
    if why is not None:
        return why
    counts = oracle.category_counts(spec, year_min)
    if dd[0][0] != len(counts):
        return f"drilldown groups {dd[0][0]}, oracle {len(counts)}"
    for key, n in dd[2:]:
        if counts.get(key) != n:
            return f"drilldown {key}={n}, oracle {counts.get(key)}"
    return None


# -- ingest -------------------------------------------------------------------

def ingest(env: Env, seed: int) -> Run:
    """Bulk build, then cycles: append a micro-batch, delete a few live
    ids, then a burst of searches with a select after every
    SEARCHES_PER_SELECT of them, all on the same handle."""
    import groonga_spark.streaming as S
    from groonga_spark.search import FulltextIndex

    run = Run("ingest", seed)
    corpus, corpus_dir, text_bytes, pool, oracle = generate(env, run, seed)
    rng = np.random.default_rng([seed, 6])

    run.t_loop = time.perf_counter()
    run.attempted += 1
    try:
        idx_path = bulk_build(env, run, corpus_dir, text_bytes,
                              corpus.n_docs)
    except Exception:
        run.fail("build_index", traceback.format_exc(limit=3))
        env.tracing(False)
        return run
    idx = FulltextIndex(env.spark, idx_path)
    sel = Selects(env, seed, pool, corpus_dir, idx)
    stream = gen.RequestStream(seed, 2, pool)
    sel_stream = gen.RequestStream(seed, 3, pool)
    epochs: list[tuple[int, tuple]] = [(corpus.n_docs, ())]
    checks = []
    # untimed reads before the first write: they open the handle, fill
    # its caches (which the writes then empty) and plan the select
    env.tracing(False)
    for _ in range(PRE_BURST):
        j, _rep = stream.next()
        checks.append((0, pool[j][2], pool[j][1],
                       idx.search(pool[j][1], k=10).collect()))
    sel.send(sel_stream.next()[0])

    tomb: list[int] = []
    t_start = time.perf_counter()  # the cycles: the build has its own metric
    i = 0
    # a fixed cycle count (not "until the clock runs out"), so a slow
    # cycle cannot change how many writes a run holds
    for cycle in range(max(1, int(env.seconds // CYCLE_S))):
        seen_before = len(stream.seen)
        sel_seen_before = len(sel_stream.seen)
        batch = gen.more_docs(corpus, seed, APPEND_BATCH, cycle)
        write_corpus(batch, os.path.join(corpus_dir,
                                         f"part-{cycle + 1:05d}.parquet"))
        corpus = gen.concat(corpus, batch)
        env.tracing(env.tracer is not None)
        run.attempted += 1
        try:
            with env.request(f"w{cycle}", "request.append"):
                w = _write_record(env, "append", lambda: S.append_docs(
                    env.spark, env.spark.read.parquet(corpus_dir), idx_path))
            w.update(docs=APPEND_BATCH, corpus_docs=corpus.n_docs)
            run.writes.append(w)
        except Exception:
            run.fail("append_docs", traceback.format_exc(limit=3))
        sel.register()
        victims = _victims(rng, oracle, pool, stream.seen[0], tomb)
        run.attempted += 1
        try:
            with env.request(f"d{cycle}", "request.delete"):
                t0 = time.perf_counter()
                idx.delete_docs(victims)
                run.deletes.append(time.perf_counter() - t0)
            tomb.extend(victims)
        except Exception:
            run.fail("delete_docs", traceback.format_exc(limit=3))
        epochs.append((corpus.n_docs, tuple(tomb)))
        epoch = len(epochs) - 1
        # repeats re-send requests seen before this cycle's writes, each
        # once per burst: the first answer after a write is never cached
        sent: set[int] = set()
        for b in range(BURST):
            j, repeat = stream.next(among=seen_before, avoid=sent)
            sent.add(j)
            shape, q, spec = pool[j]
            rows = _timed(env, run, i, "search", shape, repeat,
                          lambda: _search_once(env, idx, q, f"r{i}"))
            if rows is not None:
                checks.append((epoch, spec, q, rows))
            i += 1
            if (b + 1) % SEARCHES_PER_SELECT == 0:
                j, repeat = sel_stream.next(among=sel_seen_before)
                sel.timed(run, i, j, repeat, epoch)
                i += 1
    run.wall_s = time.perf_counter() - t_start
    env.tracing(False)

    oracles: dict[int, Oracle] = {0: oracle}

    def oracle_at(e: int) -> Oracle:
        if e not in oracles:
            n, t = epochs[e]
            oracles[e] = Oracle(corpus.slice(0, n), t)
        return oracles[e]

    _check_searches(run, checks, oracle_at)
    sel.check(run, oracle_at)
    return run


def _victims(rng, oracle: Oracle, pool, j: int, tomb: list) -> list:
    """DELETES_PER_CYCLE live base-corpus doc ids: the top live hit of
    the stream's first (most popular) query, so its later repeats must
    mask the delete, plus random live ids. A pure function of the seed."""
    dead = set(tomb)
    top, _ = oracle.top(pool[j][2], k=len(dead) + 1)
    out = [int(d) for d in top if int(d) not in dead][:1]
    while len(out) < DELETES_PER_CYCLE:
        d = int(rng.integers(0, oracle.doc_ids[-1] + 1))
        if d not in dead and d not in out:
            out.append(d)
    return out


WORKLOADS = {"search": search, "ingest": ingest}
