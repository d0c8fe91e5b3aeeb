"""Weighted multi-field match (match_columns / BM25F) vs a brute-force
python oracle: leaf-level cross-field OR semantics, per-field BM25 with
own stats, column weights."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from groonga_spark.multifield import (
    MultiFieldIndex,
    build_multifield_index,
    parse_match_columns,
)
from groonga_spark.ql import And, Not, Or, Phrase, Term, parse_query
from oracle import OracleIndex


class MultiFieldOracle:
    """Per-field OracleIndex; leaf = Σ_f w_f·leaf_f; same AND/OR/NOT
    combinators as the engine."""

    def __init__(self, rows, fields, mode="delimit"):
        # rows: list of (doc_id, {field: text})
        self.oracles = {
            f: OracleIndex([(d, vals.get(f, "")) for d, vals in rows], mode)
            for f in fields
        }

    def _leaf(self, text, cols):
        acc = defaultdict(float)
        for name, w in cols:
            for d, s in self.oracles[name]._leaf(text).items():
                acc[d] += w * s
        return dict(acc)

    def eval(self, node, cols):
        if node is None:
            return {}
        if isinstance(node, (Term, Phrase)):
            return self._leaf(node.text, cols)
        if isinstance(node, And):
            pos = [c for c in node.children if not isinstance(c, Not)]
            neg = [c.child for c in node.children if isinstance(c, Not)]
            acc = None
            for c in pos:
                r = self.eval(c, cols)
                acc = r if acc is None else {
                    d: acc[d] + r[d] for d in acc.keys() & r.keys()
                }
            acc = acc or {}
            for c in neg:
                bad = self.eval(c, cols).keys()
                acc = {d: s for d, s in acc.items() if d not in bad}
            return acc
        if isinstance(node, Or):
            acc = defaultdict(float)
            for c in node.children:
                for d, s in self.eval(c, cols).items():
                    acc[d] += s
            return dict(acc)
        if isinstance(node, Not):
            return {}
        raise TypeError(type(node))

    def search(self, query, match_columns, k=10):
        cols = parse_match_columns(match_columns)
        scores = self.eval(parse_query(query), cols)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(13)
    vocab = ["spark", "merge", "table", "scan", "stream", "window",
             "fast", "slow", "index", "query", "vector", "join"]
    rows = []
    for d in range(400):
        title = " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 5)))
        body = " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 40)))
        if d % 17 == 0:
            body = ""  # empty-field docs keep dl=0 stats honest
        rows.append((d, {"title": title, "body": body}))
    df = spark.createDataFrame(
        [(d, v["title"], v["body"]) for d, v in rows],
        "doc_id long, title string, body string",
    )
    return rows, df


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    rows, df = corpus
    path = str(tmp_path_factory.mktemp("mf") / "mf_idx")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="delimit", segment_size=100)
    return MultiFieldIndex(spark, path)


@pytest.fixture(scope="module")
def oracle(corpus):
    rows, _ = corpus
    return MultiFieldOracle(rows, ["title", "body"])


def test_parse_match_columns():
    assert parse_match_columns("title * 10 || body") == [
        ("title", 10.0), ("body", 1.0)]
    assert parse_match_columns("body") == [("body", 1.0)]


@pytest.mark.parametrize("q", [
    "spark",
    "spark merge",          # cross-field AND: title-spark + body-merge docs
    "spark OR stream",
    "spark -slow",
    '"spark fast"',
])
@pytest.mark.parametrize("mc", ["title*10||body", "title||body", "title"])
def test_multifield_rank_identity(q, mc, built, oracle):
    got = [(r["doc_id"], r["score"])
           for r in built.search(q, match_columns=mc, k=10).collect()]
    want = oracle.search(q, mc, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (q, mc, got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6, (q, mc)


def test_cross_field_and_semantics(built, oracle, corpus):
    """A doc with 'spark' only in title and 'merge' only in body MUST
    match 'spark merge' over title||body (the reference expansion)."""
    rows, _ = corpus
    only_cross = [
        d for d, v in rows
        if "spark" in v["title"].split() and "spark" not in v["body"].split()
        and "merge" in v["body"].split() and "merge" not in v["title"].split()
    ]
    if not only_cross:
        pytest.skip("fixture produced no cross-field doc")
    got = {r["doc_id"] for r in
           built.match_docs("spark merge", "title||body").collect()}
    assert set(only_cross) <= got


def test_select_with_match_columns(spark, built, corpus):
    from groonga_spark.select import select

    rows, df = corpus
    with select(df, index=built, query="spark merge",
                match_columns="title*10||body",
                sort_keys="-_score,doc_id", limit=5,
                output_columns=["doc_id", "_score"]) as res:
        hits = res.hits.collect()
    assert res.n_hits == len(
        built.match_docs("spark merge", "title*10||body").collect())
    assert len(hits) == min(5, res.n_hits)


def test_multifield_near_and_prefix_leaves(built, oracle, corpus):
    """Near/prefix leaves evaluate per field and OR across fields."""
    rows, _ = corpus
    got = {r["doc_id"] for r in
           built.match_docs('*N4"spark merge"', "title||body").collect()}
    # oracle: near within one field, any field
    import re

    def near_in(text, a, b, n):
        w = text.split()
        pa = [i for i, x in enumerate(w) if x == a]
        pb = [i for i, x in enumerate(w) if x == b]
        return any(abs(i - j) <= n for i in pa for j in pb)

    want = {d for d, v in rows
            if near_in(v["title"], "spark", "merge", 4)
            or near_in(v["body"], "spark", "merge", 4)}
    assert got == want
    # prefix leaf
    gp = {r["doc_id"] for r in
          built.match_docs("sp*", "title||body").collect()}
    wp = {d for d, v in rows
          if any(t.startswith("sp")
                 for t in (v["title"] + " " + v["body"]).split())}
    assert gp == wp and gp


@pytest.fixture
def routes(monkeypatch):
    """The route of every MultiFieldIndex.search that reached the
    executor: "local" (driver arrays), "cluster" (a DataFrame) or None
    (the exhaustive fallback)."""
    import groonga_spark.multifield as M

    seen = []
    real = M.execute_plan

    def spy(*a, **kw):
        got = real(*a, **kw)
        seen.append("cluster" if isinstance(got, DataFrame)
                    else None if got is None else "local")
        return got

    monkeypatch.setattr(M, "execute_plan", spy)
    return seen


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _exhaustive(mf, q, mc, k=10):
    return _rows(mf.match_docs(q, match_columns=mc)
                 .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


@pytest.mark.parametrize("q,mc", [
    ("spark", "title*10||body"),
    ("spark merge", "title*10||body"),
    ("spark merge table", "title||body"),
    ("spark OR stream OR slow", "title*3||body"),
    ("spark -slow", "title*10||body"),
    ("spark merge -slow -window", "title||body"),
    ("spark", "title"),
])
def test_multifield_pruned_topk_bit_identity(q, mc, built, routes):
    """The interval-pruned BM25F top-k must equal the exhaustive
    leaf-algebra path BIT-for-bit (same float sequences), ties and all —
    and must actually be the path search() takes for these shapes."""
    got = _rows(built.search(q, match_columns=mc, k=10))
    assert routes == ["local"], (q, mc)  # shape must be eligible
    assert got == _exhaustive(built, q, mc), (q, mc)


def test_multifield_pruned_ineligible_shapes(built, routes):
    """Phrases / Near / nested boolean mixes have no pruned plan — and
    search() still answers them through the exhaustive path."""
    cols = built._cols("title||body")
    for q in ['"spark fast"', '*N3"spark merge"', "(spark OR merge) table"]:
        assert built._pruned_plan(parse_query(q), cols) is None, q
        got = _rows(built.search(q, match_columns="title||body", k=10))
        assert got == _exhaustive(built, q, "title||body"), q
    assert routes == []


@pytest.mark.parametrize("q,mc", [
    ("spark merge", "title*10||body"),
    ("spark -slow", "title||body"),
    ("spark OR stream", "title*3||body"),
])
def test_multifield_pruned_distributed_matches_local(q, mc, built, routes,
                                                      monkeypatch):
    """The cluster-scale pruned path (per-(segment, shard) kernels over
    the unioned field postings + global top-k merge) must equal the
    driver-local pruned kernel exactly — shards partition doc space, so
    per-shard scores are the global scores restricted to the range."""
    from groonga_spark.search import FulltextIndex

    local = _rows(built.search(q, match_columns=mc, k=10))
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 0)
    dist = _rows(built.search(q, match_columns=mc, k=10))
    assert routes == ["local", "cluster"], (q, mc)
    assert dist == local, (q, mc)


def test_multifield_pruned_fuzz(built, routes):
    """Fuzz: random eligible shapes × random column specs — the pruned
    BM25F kernel must match the exhaustive DataFrame algebra bit-for-bit
    every time."""
    import random

    rng = random.Random(23)
    vocab = ["spark", "merge", "table", "scan", "stream", "window",
             "fast", "slow", "index", "query", "vector", "join",
             "zzznope"]
    specs = ["title*10||body", "title||body", "title*3||body",
             "body", "title", "body*2||title"]
    checked = 0
    for _ in range(40):
        n = rng.randrange(1, 4)
        parts = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5 and n > 1:
            q = " OR ".join(parts)
        else:
            q = " ".join(parts)
            if rng.random() < 0.4:
                q += f" -{rng.choice(vocab)}"
        mc = rng.choice(specs)
        pp = built._pruned_plan(parse_query(q), built._cols(mc))
        assert pp is not None, (q, mc)
        routes.clear()
        got = _rows(built.search(q, match_columns=mc, k=10))
        # an AND leaf matching no field answers empty without a read
        assert routes == ([] if pp == "empty" else ["local"]), (q, mc)
        assert got == _exhaustive(built, q, mc), (q, mc)
        checked += 1
    assert checked == 40


def test_multifield_search_routes_distributed(built, monkeypatch):
    """When posting volume exceeds the driver cap, search() routes to the
    per-shard cluster kernel and still returns the exact pruned answer."""
    from groonga_spark.search import FulltextIndex

    want = [(r["doc_id"], r["score"]) for r in
            built.search("spark merge", match_columns="title*10||body",
                         k=10).collect()]
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 1)
    got = [(r["doc_id"], r["score"]) for r in
           built.search("spark merge", match_columns="title*10||body",
                        k=10).collect()]
    assert got == want


def test_append_multifield(spark, tmp_path):
    """Incremental multifield maintenance: append new docs → per-field
    segment appends; an OPEN handle sees the new docs (generation check)
    and results equal a from-scratch rebuild bit-for-bit."""
    from groonga_spark.multifield import append_multifield

    rows0 = [(i, f"alpha w{i % 5}", f"beta alpha z{i % 3}")
             for i in range(120)]
    df0 = spark.createDataFrame(rows0, "doc_id long, title string, body string")
    path = str(tmp_path / "mf_app")
    build_multifield_index(spark, df0, path, ["title", "body"],
                           mode="delimit", segment_size=64)
    handle = MultiFieldIndex(spark, path)
    before = {r["doc_id"] for r in
              handle.match_docs("alpha", match_columns="title||body")
              .collect()}
    assert before == set(range(120))

    rows1 = rows0 + [(i, f"gamma w{i % 5}", f"alpha delta z{i % 3}")
                     for i in range(120, 160)]
    df1 = spark.createDataFrame(rows1, "doc_id long, title string, body string")
    append_multifield(spark, df1, path)

    got = [(r["doc_id"], r["score"]) for r in
           handle.search("alpha", match_columns="title*2||body", k=200)
           .collect()]
    fresh_path = str(tmp_path / "mf_fresh")
    build_multifield_index(spark, df1, fresh_path, ["title", "body"],
                           mode="delimit", segment_size=64)
    want = [(r["doc_id"], r["score"]) for r in
            MultiFieldIndex(spark, fresh_path)
            .search("alpha", match_columns="title*2||body", k=200)
            .collect()]
    assert got == want
    assert {d for d, _ in got} == set(range(160))


def test_multifield_aggregate_driver_cap(built, routes, monkeypatch):
    """DRIVER_QUERY_MAX_BYTES must gate the SUM of all fields' posting
    volume, not each field individually — N fields each just under the
    cap would otherwise load N× the cap onto the driver."""
    from groonga_spark.search import _FIELD_SHIFT, FulltextIndex

    cols = built._cols("title||body")
    pp = built._pruned_plan(parse_query("spark merge"), cols)
    assert pp not in (None, "empty")
    per_field = []
    for fi, (name, _w) in enumerate(cols):
        m = built.field(name).meta
        bpp = (m["bytes_compressed"] / m["postings_total"]
               if m.get("postings_total") else 8.0)
        sdf = sum(d for t, d in pp["df_by_tid"].items()
                  if t >> _FIELD_SHIFT == fi + 1)
        per_field.append(sdf * bpp * 2.0)
    agg = sum(per_field)
    assert max(per_field) < agg
    want = _rows(built.search("spark merge", "title||body", k=10))
    # a cap every field passes individually but the aggregate exceeds
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES",
                        (max(per_field) + agg) / 2)
    assert _rows(built.search("spark merge", "title||body", k=10)) == want
    assert routes == ["local", "cluster"]


def test_multifield_escalation_per_field(spark, built, corpus, oracle):
    """Escalation over a 2-field index: the prefix relaxes against the
    UNION of the queried fields' lexicons and re-matches under the same
    match_columns weights."""
    from groonga_spark.ql import Or, Term
    from groonga_spark.select import select

    rows, df = corpus
    # "que" matches nothing exactly; escalation expands it to que* terms
    # from the title+body lexicons ("query")
    exp = built._prefix_terms("que", limit=8,
                              match_columns="title*10||body")
    assert "query" in exp
    with select(df, index=built, query="que",
                match_columns="title*10||body",
                match_escalation_threshold=0,
                sort_keys="-_score,doc_id", limit=10,
                output_columns=["doc_id", "_score"]) as res:
        got = [(r["doc_id"], r["_score"]) for r in res.hits.collect()]
    want = sorted(
        oracle.eval(Or([Term(t) for t in exp]) if len(exp) > 1
                    else Term(exp[0]),
                    parse_match_columns("title*10||body")).items(),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9)


def test_multifield_adjuster_match_columns(spark, built, corpus, oracle):
    """3-tuple adjuster entries run the boost under their OWN column
    spec (the reference's per-column ``col @ "kw" * n`` element)."""
    from groonga_spark.ql import Term
    from groonga_spark.select import select

    rows, df = corpus
    mc = "title||body"
    with select(df, index=built, query="spark", match_columns=mc,
                adjuster=[("merge", 3.0, "title")],
                sort_keys="-_score,doc_id", limit=10,
                output_columns=["doc_id", "_score"]) as res:
        got = {r["doc_id"]: r["_score"] for r in res.hits.collect()}
    base = oracle.eval(Term("spark"), parse_match_columns(mc))
    boost = oracle.eval(Term("merge"), parse_match_columns("title"))
    want = {d: s + 3.0 * boost.get(d, 0.0) for d, s in base.items()}
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert list(got) == [d for d, _ in top]
    for d, s in top:
        assert got[d] == pytest.approx(s, abs=1e-9)
    # a 3-tuple against a single-field index is a hard error
    from groonga_spark.build import build_index
    from groonga_spark.search import FulltextIndex
    import tempfile

    sf_path = tempfile.mkdtemp(prefix="gs_adj1f_")
    build_index(spark, df.select("doc_id", F.col("body").alias("text")),
                sf_path, mode="delimit")
    single = FulltextIndex(spark, sf_path)
    with pytest.raises(ValueError, match="multi-field"):
        select(df, index=single, query="spark",
               adjuster=[("merge", 2.0, "title")], limit=5)


def test_pruned_ineligible_past_tombstone_cap(spark, tmp_path, monkeypatch):
    """Past TOMBSTONE_DRIVER_MAX the driver must never materialize the
    tombstone set on the MULTIFIELD paths either: the pruned kernels
    carry per-field masks inside the plan, so a giant delete makes the
    pruned shape ineligible and search falls back to the exhaustive
    per-field algebra, whose FulltextIndex path masks executor-side."""
    from groonga_spark.search import FulltextIndex

    df = spark.createDataFrame(
        [(d, "spark merge" if d % 2 else "table scan",
          "stream window " * (1 + d % 3)) for d in range(60)],
        "doc_id long, title string, body string",
    )
    path = str(tmp_path / "mf_tomb")
    build_multifield_index(spark, df, path, ["title", "body"],
                           mode="delimit", segment_size=30)
    mf = MultiFieldIndex(spark, path)
    doomed = [d for d in range(60) if d % 6 == 1]
    mf.delete_docs(doomed)

    want = {(r["doc_id"], round(r["score"], 9))
            for r in mf.search("spark stream", "title*2||body", k=10)
            .collect()}
    assert want and not ({d for d, _ in want} & set(doomed))

    monkeypatch.setattr(FulltextIndex, "TOMBSTONE_DRIVER_MAX", 0)
    mf2 = MultiFieldIndex(spark, path)
    from groonga_spark.ql import parse_query

    cols = mf2._cols("title*2||body")
    assert mf2._pruned_plan(parse_query("spark stream"), cols) is None

    # PROVE the driver never materializes the set under the cap
    def boom(self):
        raise AssertionError("driver materialized the tombstone set")

    monkeypatch.setattr(FulltextIndex, "tombstones", boom)
    got = {(r["doc_id"], round(r["score"], 9))
           for r in mf2.search("spark stream", "title*2||body", k=10)
           .collect()}
    assert got == want


def test_route_parity_single_and_multi_field(spark, built, monkeypatch):
    """Single-field search, match_docs and MultiFieldIndex.search share
    one executor: under the driver cap none of them launches a Spark
    job; with the cap at 0 each runs on the cluster and returns the
    same answer."""
    from groonga_spark.search import FulltextIndex

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    body = built.field("body")
    calls = {
        "search": lambda: body.search("spark merge", 10, use_cache=False),
        "match_docs": lambda: body.match_docs("spark OR slow"),
        "multifield": lambda: built.search("spark merge", "title*10||body"),
    }

    def run():
        out = {}
        for name, call in calls.items():
            j0 = dag.nextJobId()
            out[name] = (sorted(_rows(call())), dag.nextJobId() - j0)
        return out

    local = run()
    monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 0)
    cluster = run()
    for name in calls:
        assert local[name][0], name
        assert local[name][1] == 0, name
        assert cluster[name][1] > 0, name
        assert cluster[name][0] == local[name][0], name


def _functions_containing(pred) -> set[str]:
    """``file:function`` of the innermost function around every node of
    groonga_spark/ that satisfies ``pred``."""
    import ast as pyast
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "groonga_spark")
    out = set()

    def walk(node, fn, func):
        if isinstance(node, (pyast.FunctionDef, pyast.AsyncFunctionDef)):
            func = node.name
        if pred(node):
            out.add(f"{fn}:{func}")
        for child in pyast.iter_child_nodes(node):
            walk(child, fn, func)

    for fn in sorted(os.listdir(pkg)):
        if fn.endswith(".py"):
            with open(os.path.join(pkg, fn)) as f:
                walk(pyast.parse(f.read()), fn, "<module>")
    return out


def test_one_executor_routes_every_query():
    """The per-(segment, shard) fan-out and the driver-volume gate each
    live in exactly one function: the executor."""
    import ast as pyast

    def shard_group(n):
        return (isinstance(n, pyast.Call)
                and isinstance(n.func, pyast.Attribute)
                and n.func.attr == "groupBy"
                and [getattr(a, "value", None) for a in n.args]
                == ["segment", "shard"])

    def volume_gate(n):
        return isinstance(n, pyast.Compare) and any(
            isinstance(x, pyast.Attribute)
            and x.attr == "DRIVER_QUERY_MAX_BYTES" for x in pyast.walk(n))

    assert _functions_containing(shard_group) == {"search.py:execute_plan"}
    assert _functions_containing(volume_gate) == {"search.py:execute_plan"}
