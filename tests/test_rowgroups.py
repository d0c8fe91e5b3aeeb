"""Driver-side reads of the lexicon and postings through the per-handle
row-group reader: exactly the rows of a full-file scan, for indexes
written in many row groups per file and for the one-row-group layout;
no Spark job for results built on the driver; the bounded prefix
expansion; no applyInPandas type-hint warnings; one read path."""

from __future__ import annotations

import ast
import os
import shutil
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import groonga_spark.build as B
from groonga_spark.search import FulltextIndex

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "groonga_spark")

N_DOCS = 3000
VOCAB = [f"w{i:04d}" for i in range(400)]


def _docs(spark, lo: int, hi: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    rows = [(i, " ".join(rng.choice(VOCAB, 8))) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _build(spark, path: str, docs) -> None:
    B.build_index(spark, docs, path, mode="delimit", segment_size=1000,
                  shard_size=256, resume=False)


@pytest.fixture(scope="module")
def small_groups():
    """Row-group bounds small enough that the test index has several
    row groups in every lexicon and postings file."""
    mp = pytest.MonkeyPatch()
    mp.setattr(B, "LEXICON_ROW_GROUP_ROWS", 16)
    mp.setattr(B, "POSTINGS_ROW_GROUP_BYTES", 4096)
    yield
    mp.undo()


@pytest.fixture(scope="module")
def idx_path(spark, small_groups, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rg") / "idx")
    _build(spark, path, _docs(spark, 0, N_DOCS))
    return path


def _files(path: str, name: str) -> list[str]:
    d = os.path.join(path, name)
    return [os.path.join(d, f) for f in sorted(os.listdir(d))
            if f.endswith(".parquet")]


def _full(path: str, name: str) -> pa.Table:
    """Every row of every file, whole, in file order."""
    return pa.concat_tables([pq.read_table(f) for f in _files(path, name)])


def _key_bounds(path: str, name: str, key: str) -> list[tuple]:
    """(file index, min, max) of ``key`` per row group, from the data."""
    out = []
    for fi, f in enumerate(_files(path, name)):
        pf = pq.ParquetFile(f)
        for rg in range(pf.num_row_groups):
            col = pf.read_row_group(rg, columns=[key]).column(key)
            out.append((fi, pc.min(col).as_py(), pc.max(col).as_py()))
    return out


def test_layout_has_many_row_groups(idx_path):
    for name in ("lexicon", "postings"):
        counts = [pq.ParquetFile(f).num_row_groups
                  for f in _files(idx_path, name)]
        assert min(counts) > 1, (name, counts)
    assert len(_files(idx_path, "postings")) > 1


def _want_blocks(path, tids, ranges) -> pd.DataFrame:
    full = _full(path, "postings")
    tid = full.column("term_id").to_numpy()
    keep = np.isin(tid, np.asarray(tids, np.int64))
    for lo, hi in ranges:
        keep |= (tid >= lo) & (tid <= hi)
    return full.filter(pa.array(keep)).to_pandas()


def _got_blocks(idx, tids, ranges) -> pd.DataFrame:
    return idx._local_blocks(tids, ranges)


def test_local_blocks_equal_full_file_filter(spark, idx_path):
    idx = FulltextIndex(spark, idx_path)
    bounds = _key_bounds(idx_path, "postings", "term_id")
    n_terms = idx.meta["n_terms"]
    edges = sorted({v for _, lo, hi in bounds for v in (lo, hi)})
    cases = [
        # point tids at the first and last row of every row group
        (edges, []),
        ([bounds[0][1]], []),
        ([bounds[-1][2]], []),
        # spans across row-group boundaries of one file
        ([], [(bounds[0][2] - 1, bounds[1][1] + 1)]),
        # a span across every file, plus points inside and outside it
        ([0, n_terms - 1], [(n_terms // 4, 3 * n_terms // 4)]),
        ([], [(0, n_terms - 1)]),
        # missing tids: below, above, and mixed with present ones
        ([-1, n_terms, n_terms + 100], []),
        ([-5, 3, n_terms + 7], [(n_terms + 1, n_terms + 50)]),
        ([], []),
    ]
    for tids, ranges in cases:
        got = _got_blocks(idx, tids, ranges)
        want = _want_blocks(idx_path, tids, ranges)
        assert len(want) == len(got), (tids, ranges)
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      want.reset_index(drop=True))


def test_lexicon_reads_equal_full_scan(spark, idx_path):
    idx = FulltextIndex(spark, idx_path)
    lex = _full(idx_path, "lexicon").to_pandas()
    by_term = {t: (int(i), float(d))
               for t, i, d in zip(lex.term, lex.term_id, lex["df"])}
    bounds = _key_bounds(idx_path, "lexicon", "term")
    hits = sorted({v for _, lo, hi in bounds for v in (lo, hi)})
    misses = ["", "a", "w", "w00000", "w0399z", "zzz", "\x00<no-match>"]
    got = idx._lexicon_lookup(hits + misses)
    assert got == [(t, *by_term[t]) for t in hits]
    # memoized answers agree with a fresh handle's
    assert FulltextIndex(spark, idx_path)._lexicon_lookup(hits[::3]) == [
        (t, *by_term[t]) for t in hits[::3]]

    terms = sorted(by_term)
    for prefix in ["w0", "w01", "w012", "w0399", "w1", "x", "v", "w03"]:
        match = [t for t in terms if t.startswith(prefix)]
        assert idx._prefix_terms(prefix) == match, prefix
        rng = idx._prefix_tid_range(prefix)
        if not match:
            assert rng is None, prefix
            continue
        tids = [by_term[t][0] for t in match]
        assert rng == (min(tids), max(tids), len(match),
                       float(sum(by_term[t][1] for t in match))), prefix
    # "w01" covers a hundred terms, i.e. several 16-row groups
    assert len([t for t in terms if t.startswith("w01")]) > 2 * 16


QUERIES = ["w0001", "w0100 w0200", "w03*", "w0002 OR w0399", "w0050 -w0051",
           "w0123 w0124 w0125", "w0400", "nosuchterm"]


def _answers(idx, k: int = 20) -> list:
    return [[(r["doc_id"], r["score"]) for r in
             idx.search(q, k, use_cache=False).collect()] for q in QUERIES]


def test_handle_sees_another_handles_append(spark, small_groups, tmp_path):
    import time

    from groonga_spark.streaming import append_docs

    path = str(tmp_path / "idx")
    _build(spark, path, _docs(spark, 0, 1500))
    old = FulltextIndex(spark, path)
    before = _answers(old)  # fills its readers and lexicon memo
    assert old._readers and old._lex_cache

    time.sleep(0.02)  # a distinct meta mtime
    append_docs(spark, _docs(spark, 0, 1500).unionByName(
        spark.createDataFrame(
            [(i, f"w0400 w0001 w03{i % 10}0") for i in range(1500, 1800)],
            "doc_id long, text string")), path)
    fresh = FulltextIndex(spark, path)
    after = _answers(fresh)
    assert after != before
    assert _answers(old) == after


@pytest.mark.parametrize("stats", [True, False])
def test_one_row_group_layout_answers_identically(spark, idx_path, tmp_path,
                                                  stats):
    """An index whose lexicon and postings files each hold one row group
    with the writers' default statistics (the layout before bounded row
    groups) answers exactly like the many-row-group layout — and so does
    one written without any statistics (every row group is read)."""
    old = str(tmp_path / "old")
    shutil.copytree(idx_path, old)
    for name in ("lexicon", "postings"):
        for f in _files(old, name):
            pq.write_table(pq.read_table(f), f, write_statistics=stats)
            assert pq.ParquetFile(f).num_row_groups == 1
    a = FulltextIndex(spark, idx_path)
    b = FulltextIndex(spark, old)
    assert _answers(a) == _answers(b)
    ranges = [(5, 250)]
    pd.testing.assert_frame_equal(_got_blocks(a, [1, 300], ranges),
                                  _got_blocks(b, [1, 300], ranges))
    lex_a = a._lexicon_lookup(["w0001", "w0399", "nope"])
    assert lex_a == b._lexicon_lookup(["w0001", "w0399", "nope"])
    assert a._prefix_tid_range("w02") == b._prefix_tid_range("w02")


def test_driver_results_launch_no_spark_job(spark, idx_path):
    """Empty and driver-local results are local relations: collecting
    them schedules no job, cached or not."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    idx = FulltextIndex(spark, idx_path)
    calls = [
        lambda: idx.search("nosuchterm", use_cache=False),
        lambda: idx.search("nosuchterm"),
        lambda: idx.search("nosuchterm"),
        lambda: idx.search("w0007 OR w0008"),
        lambda: idx.search("w0007 OR w0008"),  # cache hit
        lambda: idx.match_docs("nosuchterm"),
        lambda: idx.fuzzy_match_docs("qqqqqq", 1),
        lambda: idx.prefix_rk_match_docs("zu"),
    ]
    for i, call in enumerate(calls):
        j0 = dag.nextJobId()
        call().collect()
        assert dag.nextJobId() == j0, i
    got = idx.search("w0007 OR w0008").collect()
    assert got and got == idx.search("w0007 OR w0008", use_cache=False).collect()


def test_prefix_expansion_is_capped(spark, idx_path):
    """Without a limit, a prefix matching more than PREFIX_TERMS_MAX
    terms raises instead of expanding (or collecting) without bound, on
    the driver branch and on the Spark branch alike."""
    idx = FulltextIndex(spark, idx_path)
    idx.PREFIX_TERMS_MAX = 50
    with pytest.raises(ValueError, match="PREFIX_TERMS_MAX"):
        idx._prefix_terms("w0")
    idx.PREFIX_DRIVER_SCAN_MAX = 0  # the Spark branch
    with pytest.raises(ValueError, match="PREFIX_TERMS_MAX"):
        idx._prefix_terms("w0")
    assert idx._prefix_terms("w001") == [f"w001{i}" for i in range(10)]
    with pytest.warns(UserWarning, match="truncated"):
        assert idx._prefix_terms("w0", limit=3) == ["w0000", "w0001", "w0002"]


def test_distributed_paths_emit_no_user_warning(spark, tmp_path,
                                                monkeypatch):
    """applyInPandas infers nothing from type hints it cannot read and
    warns once per call; the build and every distributed query path
    must run clean with UserWarning raised as an error."""
    from groonga_spark.multifield import MultiFieldIndex, build_multifield_index

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        path = str(tmp_path / "idx")
        _build(spark, path, _docs(spark, 0, 600))
        idx = FulltextIndex(spark, path)
        want = idx.search("w0001 OR w0002", 10).collect()
        assert idx.search("w0001 OR w0002", 10,
                          distributed=True).collect() == want
        idx.delete_docs([want[0]["doc_id"]])
        monkeypatch.setattr(FulltextIndex, "TOMBSTONE_DRIVER_MAX", 0)
        got = idx.search("w0001 OR w0002", 10).collect()  # cogroup path
        assert want[0]["doc_id"] not in {r["doc_id"] for r in got}
        monkeypatch.undo()

        mf = str(tmp_path / "mf")
        df = spark.createDataFrame(
            [(i, f"w{i % 7:04d}", f"w{i % 11:04d} w0001") for i in range(300)],
            "doc_id long, title string, body string")
        build_multifield_index(spark, df, mf, ["title", "body"],
                               mode="delimit", segment_size=100)
        m = MultiFieldIndex(spark, mf)
        local = m.search("w0001 OR w0003", k=10).collect()
        monkeypatch.setattr(FulltextIndex, "DRIVER_QUERY_MAX_BYTES", 0)
        assert m.search("w0001 OR w0003", k=10).collect() == local


def _calls_dataset_on(tree: ast.AST, src: str) -> list[str]:
    """Source of every ``*.dataset(...)`` call inside a function that
    names the lexicon or postings directory."""
    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = {n.value for n in ast.walk(fn)
                 if isinstance(n, ast.Constant) and isinstance(n.value, str)}
        if not names & {"lexicon", "postings"}:
            continue
        for n in ast.walk(fn):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "dataset"):
                out.append(ast.get_source_segment(src, n))
    return out


def test_one_driver_read_path_for_lexicon_and_postings():
    """The lexicon and postings are read on the driver only through
    search._SortedParquet, never by a pyarrow dataset scan."""
    found = {}
    for fn in sorted(os.listdir(PKG)):
        if fn.endswith(".py"):
            with open(os.path.join(PKG, fn)) as f:
                src = f.read()
            hits = _calls_dataset_on(ast.parse(src), src)
            if hits:
                found[fn] = hits
    assert found == {}
    # the guard sees the pattern it forbids
    bad = 'def f(s):\n    return ds.dataset(s.p("lexicon"))\n'
    assert _calls_dataset_on(ast.parse(bad), bad)
