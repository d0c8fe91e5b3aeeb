"""Fulltext search API over a built index.

The distributed shape of [G: lib/proc/proc_select.c · grn_select] step 3
(selection): the driver parses the query and looks up the handful of query
terms in the lexicon (tiny, pruned scan); executors each evaluate the AST
over ONE segment's blocks (segments partition the doc-id space, so every
set operation is segment-local); a global ``orderBy(score desc, doc_id
asc).limit(k)`` merges per-segment top-k — Spark's TakeOrderedAndProject,
touching k rows per segment, not the corpus.

Scale notes: the lexicon and every postings file are written sorted by
their key in bounded row groups (build.LEXICON_ROW_GROUP_ROWS,
build.POSTINGS_ROW_GROUP_BYTES). Driver-side reads go through one
per-handle ``_SortedParquet`` per directory, which reads only the row
groups whose key statistics can hold a wanted key; the distributed scan
pushes ``term_id IN (...)`` to parquet / Iceberg the same way. The
per-segment kernel holds q terms × that segment's blocks — bounded by
segment size, independent of corpus size.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from groonga_spark.build import IndexStore
from groonga_spark.normalize import normalize_str
from groonga_spark.ql import parse_query, query_terms
from groonga_spark.tokenize import tokenize_str
from groonga_spark.wand import SegmentQueryKernel


RESULT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("score", DoubleType()),
])


def result_frame(spark: SparkSession, doc_id=(), score=()) -> DataFrame:
    """A ``doc_id long, score double`` DataFrame from driver-side arrays.

    It goes through a pyarrow Table, which Spark turns into a local
    relation: collecting it launches no Spark job, even when it is
    empty (an empty pandas frame or list would take the RDD path)."""
    tbl = pa.table({
        "doc_id": pa.array(np.asarray(doc_id, np.int64)),
        "score": pa.array(np.asarray(score, np.float64)),
    })
    return spark.createDataFrame(tbl, RESULT_SCHEMA)


class _SortedParquet:
    """Row-group reader over one parquet directory whose files are each
    sorted by ``key`` (the lexicon by ``term``, postings by ``term_id``).

    The footers are read once, keeping each row group's min/max of
    ``key``; a read opens only the row groups whose [min, max] can hold a
    wanted key, projects the wanted columns, and then filters exactly. A
    row group without key statistics (another writer) is always read, so
    any file layout answers the same — a one-row-group file just reads
    whole."""

    def __init__(self, path: str, key: str):
        self.key = key
        self.files: list[tuple[str, pq.FileMetaData]] = []
        where, lo, hi, ranged = [], [], [], []
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            f = os.path.join(path, fn)
            md = pq.read_metadata(f)
            col = md.schema.names.index(key)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col).statistics
                if st is not None and st.has_min_max:
                    ranged.append(len(where))
                    lo.append(st.min)
                    hi.append(st.max)
                where.append((len(self.files), rg))
            self.files.append((f, md))
        self.schema = (self.files[0][1].schema.to_arrow_schema()
                       if self.files else pa.schema([]))
        self._where = where
        # min/max of the row groups that have key statistics, by position
        # in ``_where``; every other row group is always read
        self._ranged = np.array(ranged, np.int64)
        self._always = np.ones(len(where), bool)
        self._always[self._ranged] = False
        self._lo = np.array(lo, object)
        self._hi = np.array(hi, object)

    def read(self, columns: list[str] | None = None, points=(),
             ranges=()) -> pa.Table:
        """Rows whose key is in ``points`` or in a half-open ``[lo, hi)``
        of ``ranges`` (``hi=None``: unbounded), in file and row order.
        ``columns`` is the projection; the key is always included."""
        pts = np.array(sorted(set(points)), object)
        ranges = list(ranges)
        if columns is not None and self.key not in columns:
            columns = [self.key, *columns]
        parts = []
        if len(pts) or ranges:
            for f, md, rgs in self._row_groups(pts, ranges):
                with pq.ParquetFile(f, metadata=md) as pf:
                    parts.append(pf.read_row_groups(rgs, columns=columns))
        if not parts:
            empty = self.schema.empty_table()
            return empty.select(columns) if columns else empty
        tbl = pa.concat_tables(parts)
        k = tbl.column(self.key)
        keep = ([pc.is_in(k, value_set=pa.array(pts.tolist(), k.type))]
                if len(pts) else [])
        for a, b in ranges:
            m = pc.greater_equal(k, a)
            keep.append(m if b is None else pc.and_(m, pc.less(k, b)))
        return tbl.filter(functools.reduce(pc.or_, keep))

    def _row_groups(self, pts: np.ndarray, ranges: list):
        """(file, footer, row groups) that can hold a point or overlap a
        range, plus every row group without key statistics."""
        hit = np.zeros(len(self._lo), bool)
        if len(pts):
            i = np.searchsorted(pts, self._lo, side="left")
            inside = i < len(pts)
            hit[inside] = pts[i[inside]] <= self._hi[inside]
        for a, b in ranges:
            m = self._hi >= a
            if b is not None:
                m &= self._lo < b
            hit |= m
        mask = self._always.copy()
        mask[self._ranged[hit]] = True
        by_file: dict[int, list[int]] = {}
        for g in np.flatnonzero(mask):
            fi, rg = self._where[g]
            by_file.setdefault(fi, []).append(rg)
        return [(*self.files[fi], rgs) for fi, rgs in by_file.items()]


def _prefix_upper_bound(prefix: str) -> str | None:
    """Exclusive upper bound of the prefix range [p, succ(p)): increment
    the last codepoint (codepoint order == UTF-8 byte order), SKIPPING
    the surrogate gap (U+D7FF + 1 would be a lone surrogate — pyarrow
    raises encoding it). None → no finite bound (all-U+10FFFF prefix);
    callers fall back to enumeration."""
    p = prefix
    while p and ord(p[-1]) >= 0x10FFFF:
        p = p[:-1]
    if not p:
        return None
    nxt = ord(p[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:
        nxt = 0xE000
    return p[:-1] + chr(nxt)


def _bounded_levenshtein(a: str, b: str, bound: int) -> int | None:
    """Edit distance if ≤ bound else None (banded DP, early exit)."""
    if abs(len(a) - len(b)) > bound:
        return None
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        row_min = i
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != cb))
            row_min = min(row_min, cur[j])
        if row_min > bound:
            return None
        prev = cur
    return prev[-1] if prev[-1] <= bound else None


class FulltextIndex:
    """Query handle for an index built by build.build_index."""

    #: max cached query results per handle (grn_cache default is 100)
    RESULT_CACHE_MAX = 256

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.store = IndexStore(path)
        self.meta = self.store.read_meta()
        self._lex_cache: dict[str, tuple[int, float] | None] = {}
        self._postings_df: DataFrame | None = None
        self._readers: dict[str, _SortedParquet] = {}
        from collections import OrderedDict

        self._result_cache: OrderedDict[
            tuple, tuple[np.ndarray, np.ndarray]
        ] = OrderedDict()
        self._generation = self._cache_generation()

    def _check_generation(self) -> tuple:
        """Detect index mutation by ANOTHER handle/process (append, rebuild,
        compaction, delete) and drop every per-handle cache — not just the
        result cache. Without this, a result-cache miss after mutation
        would recompute against a STALE lexicon / postings plan / avgdl
        and return wrong answers, not merely uncached ones."""
        gen = self._cache_generation()
        if gen != self._generation:
            self._lex_cache.clear()
            self._postings_df = None
            self._readers.clear()
            self._tombstones = None
            self._tombstone_est = None
            self.meta = self.store.read_meta()
            self._generation = gen
        return gen

    #: sort key of each directory the driver seeks in
    _SORT_KEYS = {"lexicon": "term", "postings": "term_id"}

    def _sorted(self, name: str) -> _SortedParquet:
        """The handle's row-group reader of ``lexicon`` or ``postings``.
        Its footers are read once per index generation; the generation
        is checked first, so a rewrite by another handle never meets a
        stale footer."""
        self._check_generation()
        r = self._readers.get(name)
        if r is None:
            r = _SortedParquet(self.store.p(name), self._SORT_KEYS[name])
            self._readers[name] = r
        return r

    @property
    def postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self.store.p("postings"))
        return self._postings_df

    @property
    def lexicon(self) -> DataFrame:
        return self.spark.read.parquet(self.store.p("lexicon"))

    @property
    def doc_map(self) -> DataFrame:
        return self.spark.read.parquet(self.store.p("doc_map"))

    # ---------------------------------------------------------------------

    def _lexicon_lookup(self, tokens: list[str]) -> list[tuple[str, int, int]]:
        """Driver-side term → (term_id, df) lookup — the PAT-trie seek
        [G: lib/pat.c · grn_pat_get] without a Spark job. The handle's
        lexicon reader opens only the row groups whose term range holds
        a wanted term (the lexicon is term-sorted in
        build.LEXICON_ROW_GROUP_ROWS-row groups), so a q-term query reads
        at most q row groups. (The prod Iceberg deployment does the same
        through its metadata tables.) Results are memoized per index
        handle."""
        lex = self._sorted("lexicon")  # first: it may drop the memo
        missing = [t for t in tokens if t not in self._lex_cache]
        if missing:
            tbl = lex.read(["term", "term_id", "df"], points=missing)
            found = set()
            for term, tid, df in zip(
                *(tbl.column(c).to_pylist() for c in ("term", "term_id", "df"))
            ):
                self._lex_cache[term] = (int(tid), float(df))
                found.add(term)
            for t in missing:
                if t not in found:
                    self._lex_cache[t] = None
        return [
            (t, *self._lex_cache[t])
            for t in tokens
            if self._lex_cache.get(t) is not None
        ]

    #: Lexicon size above which prefix planning runs as ONE pruned Spark
    #: aggregation / scan instead of a driver-side pyarrow fetch: on a
    #: 10^8–10^9-term lexicon a hot prefix can match millions of rows,
    #: and the driver must never materialize them (the contract of
    #: _prefix_tid_range is literally two ints + two scalars). Below it,
    #: the pyarrow path answers without scheduling a Spark job
    #: (search-head latency). Class attr so tests/deployments can tune.
    PREFIX_DRIVER_SCAN_MAX = 10_000_000

    #: Similar (*S) keeps only this many of the input's rarest (lowest
    #: df) known tokens — the reference's rare-term selection [G:
    #: lib/ii.c · grn_ii_similar_search], and the bound that keeps a
    #: whole-document *S input from planning hundreds of posting
    #: fetches.
    SIMILAR_MAX_TERMS = 30

    #: Most terms a prefix may expand to when the caller sets no
    #: ``limit``: each becomes a query leaf (an OR of Terms), and the
    #: Spark branch must never collect an unbounded match set. Past it
    #: _prefix_terms raises instead of truncating.
    PREFIX_TERMS_MAX = 10_000

    def _prefix_terms(self, prefix: str, limit: int | None = None) -> list[str]:
        """Lexicon range scan for a prefix — the PAT-trie predictive
        cursor [G: lib/pat.c · GRN_CURSOR_PREFIX]. Exact: [p, succ(p))
        where succ increments the last codepoint (codepoint order ==
        UTF-8 byte order), with a startswith post-check for the
        no-successor edge. An explicit ``limit`` that truncates warns;
        without one, more than PREFIX_TERMS_MAX matches raise
        ValueError. Past PREFIX_DRIVER_SCAN_MAX terms the scan runs on
        the executors (StringStartsWith pushes to parquet / Iceberg) and
        only MATCHED terms transfer — at most cap+1 of them."""
        cap = self.PREFIX_TERMS_MAX if limit is None else limit
        if self.meta.get("n_terms", 0) > self.PREFIX_DRIVER_SCAN_MAX:
            rows = (
                self.lexicon.select("term")
                .filter(F.col("term").startswith(prefix))
                .orderBy("term").limit(cap + 1).collect()
            )
            terms = [r["term"] for r in rows]
        else:
            terms = self._prefix_terms_pyarrow(prefix)
        if limit is None and len(terms) > cap:
            raise ValueError(
                f"prefix '{prefix}*' matches more than "
                f"{self.PREFIX_TERMS_MAX} lexicon terms "
                "(FulltextIndex.PREFIX_TERMS_MAX); use a longer prefix "
                "or pass an explicit limit"
            )
        if len(terms) > cap:
            import warnings

            warnings.warn(
                f"prefix '{prefix}*' matches more than {limit} terms; "
                f"truncated to first {limit}"
            )
            terms = terms[:limit]
        return terms

    def _prefix_terms_pyarrow(self, prefix: str) -> list[str]:
        tbl = self._sorted("lexicon").read(
            ["term"], ranges=[(prefix, _prefix_upper_bound(prefix))]
        )
        return sorted(
            t for t in tbl.column("term").to_pylist() if t.startswith(prefix)
        )

    def _prefix_tid_range(self, prefix: str) -> tuple[int, int, int, float] | None:
        """(lo_tid, hi_tid, n_terms, sum_df) of every lexicon term with
        ``prefix`` — one pruned scan reading only term_id/df. Dense ids
        are term-sorted (build.assign_dense_ids), so the match set is
        exactly the CONTIGUOUS id range [lo, hi]; None when no term
        matches. Past PREFIX_DRIVER_SCAN_MAX lexicon terms the range
        comes from ONE Spark ``min/max/count/sum`` aggregation with the
        range predicate pushed to the parquet/Iceberg scan — a hot
        prefix over a 10^8-term lexicon never fetches matched rows to
        the driver (the contract is two ints + two scalars); under it,
        a driver pyarrow scan answers without a Spark job."""
        ub = _prefix_upper_bound(prefix)
        if ub is None:
            return None  # degenerate all-U+10FFFF prefix: enumerate instead
        if self.meta.get("n_terms", 0) > self.PREFIX_DRIVER_SCAN_MAX:
            row = (
                self.lexicon
                .filter((F.col("term") >= prefix) & (F.col("term") < ub))
                .agg(
                    F.min("term_id").alias("lo"),
                    F.max("term_id").alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum("df").alias("sum_df"),
                )
                .collect()[0]
            )
            if not row["n"]:
                return None
            lo, hi, n = int(row["lo"]), int(row["hi"]), int(row["n"])
            if hi - lo + 1 != n:
                raise RuntimeError(
                    "lexicon corruption: dense term_id range for prefix "
                    f"{prefix!r} is non-contiguous (lo={lo}, hi={hi}, n={n})"
                )
            return lo, hi, n, float(row["sum_df"])
        tbl = self._sorted("lexicon").read(["term_id", "df"],
                                           ranges=[(prefix, ub)])
        n = tbl.num_rows
        if n == 0:
            return None
        tid = tbl.column("term_id")
        lo = pc.min(tid).as_py()
        hi = pc.max(tid).as_py()
        # dense ids are rank-of-term → a prefix range MUST be contiguous;
        # anything else means lexicon corruption, not a soft fallback.
        # Explicit raise (not assert): under `python -O` an assert is
        # stripped and a corrupt lexicon would silently return a range
        # matching unrelated terms.
        if hi - lo + 1 != n:
            raise RuntimeError(
                "lexicon corruption: dense term_id range for prefix "
                f"{prefix!r} is non-contiguous (lo={lo}, hi={hi}, n={n})"
            )
        return int(lo), int(hi), int(n), float(pc.sum(tbl.column("df")).as_py())

    def fuzzy_terms(self, term: str, max_distance: int = 1,
                    prefix_length: int = 0,
                    max_expansions: int = 64) -> list[str]:
        """Lexicon terms within edit distance ≤ max_distance of ``term``
        [G: lib/proc.c · func fuzzy_search / grn_table_fuzzy_search],
        ranked (distance asc, term asc), capped at max_expansions.

        Small lexicons scan driver-side (pyarrow + a bounded DP, zero
        Spark jobs); big ones run one Catalyst job with
        ``levenshtein(term, q) <= d`` (+ the prefix range prune)."""
        q = normalize_str(term)  # normalize_str already lowercases
        pfx = q[:prefix_length] if prefix_length else ""
        if self.meta.get("n_terms", 0) <= 100_000:
            ub = _prefix_upper_bound(pfx) if pfx else None
            tbl = self._sorted("lexicon").read(["term"], ranges=[(pfx, ub)])
            cands = [
                t for t in tbl.column("term").to_pylist()
                if abs(len(t) - len(q)) <= max_distance
                and (not pfx or t.startswith(pfx))
            ]
            scored = [
                (d, t) for t in cands
                if (d := _bounded_levenshtein(t, q, max_distance)) is not None
            ]
        else:
            # NOTE Spark's levenshtein counts UTF-16 code units — for
            # astral-plane terms (outside the BMP) it can differ from the
            # small-lexicon path's codepoint distance by the surrogate
            # count; documented divergence at the size boundary.
            df = self.lexicon.select("term")
            if pfx:
                df = df.filter(F.col("term").startswith(pfx))
            rows = (
                df.withColumn("_d", F.levenshtein(F.col("term"), F.lit(q)))
                .filter(F.col("_d") <= max_distance)
                # +1: detect truncation so the warning below can fire
                .orderBy("_d", "term").limit(max_expansions + 1).collect()
            )
            scored = [(r["_d"], r["term"]) for r in rows]
        scored.sort()
        out = [t for _, t in scored[:max_expansions]]
        if len(scored) > max_expansions:
            import warnings

            warnings.warn(
                f"fuzzy_search({term!r}, {max_distance}) matched more "
                f"than {max_expansions} terms; truncated"
            )
        return out

    def fuzzy_match_docs(self, term: str, max_distance: int = 1,
                         prefix_length: int = 0) -> DataFrame:
        """Docs containing any lexicon term within edit distance ≤
        max_distance (scored like the equivalent OR)."""
        from groonga_spark.ql import Or, Term

        terms = self.fuzzy_terms(term, max_distance, prefix_length)
        if not terms:
            return result_frame(self.spark)
        ast = Or([Term(t) for t in terms]) if len(terms) > 1 else Term(terms[0])
        return self.match_ast(ast)

    def prefix_rk_terms(self, romaji: str, limit: int | None = None) -> list[str]:
        """Lexicon terms whose katakana reading starts with the romaji
        prefix [G: lib/proc.c · func prefix_rk_search] — rk_expand gives
        the kana prefixes, each resolved with the pruned lexicon range
        scan (zero Spark jobs)."""
        from groonga_spark.rk import rk_expand

        out: set[str] = set()
        for p in rk_expand(romaji):
            if p:
                out.update(self._prefix_terms(p))
        terms = sorted(out)
        if limit is not None:
            terms = terms[:limit]
        return terms

    def prefix_rk_match_docs(self, romaji: str) -> DataFrame:
        """Docs containing any term matched by the romaji prefix."""
        from groonga_spark.ql import Or, Term

        terms = self.prefix_rk_terms(romaji)
        if not terms:
            return result_frame(self.spark)
        ast = Or([Term(t) for t in terms]) if len(terms) > 1 else Term(terms[0])
        return self.match_ast(ast)

    def _expand_ast(self, ast, expansions: dict | None = None):
        """Plan-time AST rewrites: a QL prefix leaf (``word*``) becomes a
        TermRange over the CONTIGUOUS dense-id span of matching lexicon
        terms — the PAT-trie predictive cursor [G: lib/pat.c ·
        GRN_CURSOR_PREFIX → grn_ii_select EX_PREFIX ORs the matching
        tokens' posting lists]. The driver holds (lo, hi, n), never a
        leaf per term, so a hot prefix on a 10^8-term lexicon plans in
        O(1); matched lexicon terms hit via their OWN posting lists (no
        query-side re-tokenization — on ngram indexes this is the
        reference's semantics, not a phrase over the term's ngrams).
        ``expansions`` (query_expand [G: lib/expr.c ·
        grn_expr_syntax_expand_query]) maps a term to synonym
        alternatives OR-ed with it."""
        from groonga_spark.ql import (
            Or,
            Prefix,
            Similar,
            Term,
            TermRange,
            rewrite,
        )

        if ast is None:
            return None

        def fn(leaf):
            if isinstance(leaf, Similar) and leaf.tids is None:
                # rare-term selection [G: lib/ii.c · grn_ii_similar_search
                # sorts the input's tokens by df and keeps the rarest]:
                # rank the input's distinct KNOWN tokens by (df asc, term
                # asc — deterministic) and keep SIMILAR_MAX_TERMS. Bounds
                # the plan for a long input document AND matches the
                # reference's semantics; df comes from the memoized
                # pruned lexicon lookup (driver-cheap).
                mode = self.meta["tokenizer_mode"]
                toks = sorted({
                    term for term, _ in
                    tokenize_str(normalize_str(leaf.text), mode)
                })
                rows = self._lexicon_lookup(toks)  # known tokens only
                sel = sorted(rows, key=lambda r: (r[2], r[0]))
                sel = sel[: self.SIMILAR_MAX_TERMS]
                return Similar(leaf.text, tids=tuple(
                    sorted((int(t), float(d)) for _, t, d in sel)
                ))
            if isinstance(leaf, Prefix):
                pfx = normalize_str(leaf.text)
                rng = self._prefix_tid_range(pfx)
                if rng is not None:
                    return TermRange(pfx, rng[0], rng[1], rng[2], rng[3])
                # no matching term (or degenerate prefix): enumerate —
                # usually empty → the impossible term
                terms = self._prefix_terms(pfx)
                if not terms:
                    return Term("\x00<no-match>")  # impossible term → ∅
                if len(terms) == 1:
                    return Term(terms[0])
                return Or([Term(t) for t in terms])
            if (expansions and isinstance(leaf, Term)
                    and leaf.text in expansions):
                alts = [leaf.text, *expansions[leaf.text]]
                return Or([Term(a) for a in alts])
            return leaf

        return rewrite(ast, fn)

    def _plan(self, ast) -> dict:
        """Driver-side planning: tokenize query texts with the INDEX's own
        tokenizer, look the tokens up in the lexicon (one pruned scan).
        TermRange leaves contribute only their (lo, hi) spans — the plan
        stays O(query terms) however many lexicon terms a range covers
        (per-term df rides the posting blocks, attached at finalize)."""
        from groonga_spark.ql import collect_ranges, collect_similar_tids

        mode = self.meta["tokenizer_mode"]
        texts = sorted(set(query_terms(ast)))
        tokens_by_text: dict[str, list] = {}
        all_tokens: set[str] = set()
        for t in texts:
            toks = [term for term, _ in tokenize_str(normalize_str(t), mode)]
            tokens_by_text[t] = toks
            all_tokens.update(toks)
        rows = self._lexicon_lookup(sorted(all_tokens))
        tid = {term: t_id for term, t_id, _ in rows}
        df_by_tid = {t_id: df for _, t_id, df in rows}
        # Similar leaves carry their rare-term-selected (tid, df) pairs
        # (resolved in _expand_ast) — their texts are NOT in query_terms,
        # so the postings predicate stays bounded by the selection
        needed = set(tid.values())
        for s_tid, s_df in collect_similar_tids(ast):
            needed.add(s_tid)
            df_by_tid.setdefault(s_tid, s_df)
        ranges = collect_ranges(ast)
        return {
            "tokens_by_text": {
                t: [tid.get(tok) for tok in toks]
                for t, toks in tokens_by_text.items()
            },
            "df_by_tid": df_by_tid,
            "needed_tids": sorted(needed),
            "tid_ranges": sorted({(r.lo_tid, r.hi_tid) for r in ranges}),
            "ranges_sum_df": float(sum(r.sum_df for r in ranges)),
        }

    # beyond this many (estimated) posting bytes, queries run distributed;
    # under it, the driver reads the pruned blocks directly (search-head
    # pattern — same kernel, no job scheduling latency)
    DRIVER_QUERY_MAX_BYTES = 128 << 20

    def _stats(self, scorer: str | None = None) -> dict:
        st = {
            "n_docs": float(self.meta["n_docs"]),
            "avgdl": float(self.meta["avgdl"]),
            "k1": float(self.meta["k1"]),
            "b": float(self.meta["b"]),
        }
        if scorer and scorer != "bm25":
            from groonga_spark.score import get_scorer

            get_scorer(scorer)  # fail fast on the driver, by name
            st["scorer"] = scorer
        return st

    # -- deletes (tombstones) ---------------------------------------------
    #
    # The reference deletes in place [G: lib/proc.c · proc_delete →
    # grn_table_delete + index hooks]. Immutable segments instead take the
    # LSM route: deleted doc ids are tombstones, masked at posting-decode
    # time; corpus stats (N, avgdl, df) intentionally drift until a
    # rebuild compacts them — standard search-engine semantics.

    def delete_docs(self, doc_ids) -> None:
        """Tombstone doc ids (append-only metadata write).

        ``doc_ids`` is either a small driver-side iterable of ints OR a
        Spark DataFrame whose first column holds the ids — the DataFrame
        form writes the tombstone files FROM THE EXECUTORS (one
        distributed parquet write), so a delete matching 10^9 rows never
        materializes its id set on the driver."""
        import shutil
        import uuid

        d = self.store.p("tombstones")
        os.makedirs(d, exist_ok=True)
        if isinstance(doc_ids, DataFrame):
            # distributed write into a staging dir, then adopt the part
            # files under the t-*.parquet naming the reader/generation
            # logic expects (no _SUCCESS marker in the live dir)
            id_col = doc_ids.columns[0]
            stage = os.path.join(d, f".stage-{uuid.uuid4().hex}")
            (doc_ids.select(F.col(id_col).cast("long").alias("doc_id"))
                    .distinct()
                    .write.mode("overwrite").parquet(stage))
            import pyarrow.parquet as pq

            staged = [os.path.join(stage, fn)
                      for fn in sorted(os.listdir(stage))
                      if fn.endswith(".parquet")]
            staged_rows = sum(
                pq.ParquetFile(f).metadata.num_rows for f in staged
            )
            if staged_rows == 0:
                staged = []  # schema-only parts: nothing tombstoned
            if 0 < staged_rows <= self.TOMBSTONE_DRIVER_MAX:
                # distinct() shuffled to spark.sql.shuffle.partitions, so
                # a SMALL delete would otherwise adopt up to that many
                # near-empty files — repeated small deletes then inflate
                # every footer scan and dataset read. Under the same
                # threshold the driver mask path already tolerates,
                # compact the staged parts into ONE file (footer-sized
                # decision; ≤1M int64 ids ≈ 8 MB). Past the threshold the
                # part files are adopted as-is — the 10^9-row delete
                # never touches the driver.
                import pyarrow as pa
                import pyarrow.dataset as ds

                ids = ds.dataset(staged, format="parquet").to_table()
                final = os.path.join(d, f"t-{uuid.uuid4().hex}.parquet")
                pq.write_table(
                    pa.table({"doc_id": ids.column("doc_id")}),
                    final + ".tmp",
                )
                os.replace(final + ".tmp", final)
                n = 1
            elif staged:
                # adopt the WHOLE stage in one atomic rename: a per-file
                # move loop could crash midway and leave a partial delete
                # permanently applied with no marker or retry path, and
                # concurrent readers could observe a half-applied delete.
                # A directory rename is all-or-nothing; every reader
                # (pyarrow dataset, the recursive Spark read, the footer
                # estimate) recurses into t-* directories, and the
                # dot-prefixed stage dir is invisible until renamed.
                # (`elif staged`: a zero-row delete must NOT adopt its
                # schema-only parts as a junk live dir.)
                os.replace(stage, os.path.join(d, f"t-{uuid.uuid4().hex}"))
                n = len(staged)
            else:
                n = 0
            shutil.rmtree(stage, ignore_errors=True)
            if n == 0:  # empty result set: nothing tombstoned
                self._tombstones = None
                self._tombstone_est = None
                return
        else:
            import pyarrow as pa
            import pyarrow.parquet as pq

            table = pa.table({
                "doc_id": pa.array(sorted(set(int(x) for x in doc_ids)),
                                   type=pa.int64())
            })
            final = os.path.join(d, f"t-{uuid.uuid4().hex}.parquet")
            pq.write_table(table, final + ".tmp")
            os.replace(final + ".tmp", final)
        self._tombstones = None  # invalidate caches (mask + row estimate)
        self._tombstone_est = None

    def tombstones(self) -> np.ndarray:
        if getattr(self, "_tombstones", None) is None:
            d = self.store.p("tombstones")
            if not os.path.isdir(d):
                self._tombstones = np.empty(0, np.int64)
            else:
                import pyarrow.dataset as ds

                tbl = ds.dataset(d, format="parquet").to_table()
                self._tombstones = np.unique(
                    np.asarray(tbl.column("doc_id").to_pylist(), np.int64)
                )
        return self._tombstones

    #: beyond this many tombstoned ids the driver stops materializing the
    #: mask: queries route to the cluster, where each (segment, shard)
    #: group receives ONLY its doc-range's tombstones via a cogroup (the
    #: range assignment is a broadcast join against O(shards) ranges).
    #: Under it, the mask is a small numpy array inside the query plan.
    TOMBSTONE_DRIVER_MAX = 1_000_000

    def _tombstone_rows_estimate(self) -> int:
        """Upper bound on tombstoned ids from parquet FOOTERS only —
        O(files) metadata reads, never the data pages. Duplicates across
        files make this an overestimate, which only errs toward the
        (safe) executor-side path. Cached per handle (this runs on EVERY
        query plan) and invalidated exactly where the mask cache is:
        local deletes and generation changes."""
        est = getattr(self, "_tombstone_est", None)
        if est is not None:
            return est
        d = self.store.p("tombstones")
        if not os.path.isdir(d):
            self._tombstone_est = 0
            return 0
        import pyarrow.parquet as pq

        total = 0
        for root, dirs, files in os.walk(d):
            # in-flight staging dirs (dot-prefixed) are not yet adopted
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, fn)
                    ).metadata.num_rows
        self._tombstone_est = total
        return total

    def _local_blocks(self, tids: list[int], ranges) -> pd.DataFrame:
        """The postings blocks of ``tids`` and of the inclusive term_id
        ``ranges`` (TermRange spans), read on the driver. The handle's
        postings reader opens only the row groups whose term_id range
        overlaps a wanted tid or span (each postings file is
        term_id-sorted in build.POSTINGS_ROW_GROUP_BYTES groups); spans
        are ranges, never IN lists."""
        return self._sorted("postings").read(
            points=[int(t) for t in tids],
            ranges=[(int(lo), int(hi) + 1) for lo, hi in ranges],
        ).to_pandas()

    # -- query result cache -------------------------------------------------
    #
    # The reference caches whole select outputs keyed by the request and
    # clears the cache on table update [G: lib/cache.c · grn_cache_fetch /
    # grn_cache_expire]. Here: an LRU of driver-local TOP-K results (tiny
    # (doc_id, score) array pairs) per handle, keyed by the query plus the
    # index generation (meta mtime + tombstone file count — two stat
    # calls), so deletes and compaction invalidate naturally. match_docs
    # results are unbounded and never cached.

    def _cache_generation(self) -> tuple:
        gen_meta = os.path.getmtime(self.store.meta_path)
        d = self.store.p("tombstones")
        # count only LIVE entries: an in-flight `.stage-*` dir must not
        # pre-count — a handle that computed its generation during the
        # staging window would otherwise see the SAME count after the
        # t-<uuid> adoption rename and keep serving deleted docs from
        # its result cache
        n_tomb = (len([e for e in os.listdir(d) if not e.startswith(".")])
                  if os.path.isdir(d) else 0)
        return (gen_meta, n_tomb)

    def _result_cache_get(self, key: tuple):
        got = self._result_cache.get(key)
        if got is not None:
            self._result_cache.move_to_end(key)
        return got

    def _result_cache_put(self, key: tuple, hit: tuple) -> None:
        self._result_cache[key] = hit
        self._result_cache.move_to_end(key)
        while len(self._result_cache) > self.RESULT_CACHE_MAX:
            self._result_cache.popitem(last=False)

    def search(self, query: str, k: int = 10,
               distributed: bool | None = None,
               expansions: dict | None = None,
               use_cache: bool = True,
               scorer: str | None = None) -> DataFrame:
        """Top-k for a Groonga-QL query → DataFrame(doc_id, score),
        ordered by (score desc, doc_id asc).

        ``distributed=None`` auto-routes: small posting volumes run on
        the driver over a term_id-pruned pyarrow scan (identical kernel,
        no job latency); large ones fan out per (segment, shard).
        ``expansions`` = synonym map (query_expand). Driver-local top-k
        results are served from the per-handle result cache unless
        ``use_cache=False`` (invalidated by deletes/compaction).
        ``scorer`` picks a registered scorer (score.register_scorer —
        the reference's pluggable scorers [G: lib/scorer.c]); default
        BM25."""
        gen = self._check_generation()
        cache_key = None
        if use_cache and distributed is not True:
            exp_key = (tuple(sorted((t, tuple(v)) for t, v in
                                    expansions.items()))
                       if expansions else None)
            cache_key = (query, k, exp_key, distributed, gen, scorer)
            hit = self._result_cache_get(cache_key)
            if hit is not None:
                return result_frame(self.spark, *hit)
        ast = self._expand_ast(parse_query(query), expansions)
        plan = self._plan(ast)
        if ast is None or not (plan["needed_tids"] or plan["tid_ranges"]):
            return result_frame(self.spark)
        kernel = functools.partial(_segment_kernel, ast, self._stats(scorer),
                                   k)
        got = execute_plan([(self, 0)], plan, kernel, k, distributed)
        if isinstance(got, DataFrame):
            return got
        if cache_key is not None:
            self._result_cache_put(cache_key, got)
        return result_frame(self.spark, *got)

    def match_docs(self, query: str,
                   distributed: bool | None = None,
                   expansions: dict | None = None,
                   scorer: str | None = None) -> DataFrame:
        """All matching doc ids (no top-k) — the COUNT/filter path."""
        ast = self._expand_ast(parse_query(query), expansions)
        return self.match_ast(ast, distributed=distributed, scorer=scorer)

    def match_ast(self, ast,
                  distributed: bool | None = None,
                  scorer: str | None = None) -> DataFrame:
        """match_docs over a pre-expanded AST (multi-field leaf eval and
        other composers enter here)."""
        self._check_generation()
        plan = self._plan(ast)
        if ast is None or not (plan["needed_tids"] or plan["tid_ranges"]):
            return result_frame(self.spark)
        kernel = functools.partial(_segment_kernel, ast, self._stats(scorer),
                                   None)
        got = execute_plan([(self, 0)], plan, kernel, None, distributed)
        if isinstance(got, DataFrame):
            return got
        return result_frame(self.spark, *got)


def _segment_kernel(ast, stats: dict, k: int | None, blocks: pd.DataFrame,
                    plan: dict, tombs: list):
    """One field's query as an executor kernel: the top ``k`` through the
    segment kernel's pruned paths, or every match (``k=None``)."""
    kern = SegmentQueryKernel(blocks, dict(plan, tombstones=tombs[0]), stats,
                              (1 << 62) if k is None else k)
    return kern.eval(ast) if k is None else kern.run(ast)


#: Width of one source's term_id namespace in execute_plan: source i's
#: term ids are shifted by its offset, a multiple of 2**_FIELD_SHIFT
#: (dense term ids are ranks, far below 2**40).
_FIELD_SHIFT = 40


def _postings_pred(tids: list[int], ranges):
    """Catalyst predicate selecting postings: IN over the looked-up tids
    + BETWEEN per inclusive TermRange span — both push down to the
    parquet scan, which skips row groups by their term_id statistics
    (the Iceberg deployment prunes bucket(term_id) partitions the same
    way)."""
    cond = F.col("term_id").isin([int(t) for t in tids]) if tids else None
    for lo, hi in ranges:
        rc = F.col("term_id").between(int(lo), int(hi))
        cond = rc if cond is None else (cond | rc)
    return cond if cond is not None else F.lit(False)


def execute_plan(sources: list[tuple[FulltextIndex, int]], plan: dict,
                 kernel, k: int | None, distributed: bool | None):
    """Route a planned query and run its kernel — the one executor of
    single-field and multi-field search.

    ``sources`` are (index, term_id offset) pairs; ``plan["needed_tids"]``
    and ``plan.get("tid_ranges")`` name the postings to read in the
    offset namespace (source i owns the ids whose ``>> _FIELD_SHIFT``
    equals its offset's), ``plan["df_by_tid"]`` their df.
    ``kernel(blocks, plan, tombs)`` maps a postings frame (term ids
    offset) to ``(doc, score)``; ``tombs[i]`` is source i's tombstone
    mask.

    Routing:
    - tombstones: past TOMBSTONE_DRIVER_MAX (estimated from footers) the
      driver never materializes the set; the query runs distributed and
      each (segment, shard) is cogrouped with its doc range's tombstones.
      ``distributed=False`` overrides: the caller insisted on the driver.
    - volume: Σdf × bytes-per-posting × 2 over the sources; above
      DRIVER_QUERY_MAX_BYTES (or ``distributed=True``) the kernel fans
      out per (segment, shard) — shards are doc-disjoint, so it is
      correct per group — else it runs once on the driver over every
      read block (blocks are globally doc-disjoint and ordered).

    Returns the ``(doc, score)`` arrays of a driver-local run, or the
    per-shard DataFrame of a distributed one, merged to the top ``k``
    unless ``k`` is None; None when the sources' shard geometries differ,
    so no (segment, shard) group holds every source's blocks for its doc
    range (callers fall back). Past the tombstone cap a query has one
    source (multi-field plans fall back before)."""
    head = sources[0][0]
    reads = []
    for src, off in sources:
        ns = off >> _FIELD_SHIFT
        tids = [t - off for t in plan["needed_tids"]
                if t >> _FIELD_SHIFT == ns]
        ranges = [(lo - off, hi - off)
                  for lo, hi in plan.get("tid_ranges", ())
                  if lo >> _FIELD_SHIFT == ns]
        if tids or ranges:
            reads.append((src, off, tids, ranges))

    external = (distributed is not False
                and sum(s._tombstone_rows_estimate() for s, _ in sources)
                > head.TOMBSTONE_DRIVER_MAX)
    tombs = None if external else [s.tombstones() for s, _ in sources]
    if distributed is None:
        est = 0.0
        for src, off, tids, ranges in reads:
            meta = src.meta
            bpp = (meta["bytes_compressed"] / meta["postings_total"]
                   if meta.get("postings_total") else 8.0)
            sum_df = sum(plan["df_by_tid"].get(t + off, 0.0) for t in tids)
            if ranges:
                sum_df += plan.get("ranges_sum_df", 0.0)
            est += sum_df * bpp * 2.0
        distributed = external or est > head.DRIVER_QUERY_MAX_BYTES
    if not distributed:
        frames = []
        for src, off, tids, ranges in reads:
            pdf = src._local_blocks(tids, ranges)
            if off:
                pdf["term_id"] += off
            frames.append(pdf)
        return kernel(pd.concat(frames, ignore_index=True)
                      if len(frames) > 1 else frames[0], plan, tombs)

    if len({(s.meta.get("segment_size"), s.meta.get("shard_size"))
            for s, _ in sources}) != 1:
        return None
    parts = []
    for src, off, tids, ranges in reads:
        part = src.postings.filter(_postings_pred(tids, ranges))
        if off:
            part = part.withColumn(
                "term_id", (F.col("term_id") + F.lit(off)).cast("long"))
        parts.append(part)
    blocks = functools.reduce(DataFrame.unionByName, parts).withColumn(
        "shard", F.shiftright("block_id", 24))
    spark = head.spark
    bplan = spark.sparkContext.broadcast((plan, tombs))

    def _frame(doc, score):
        return pd.DataFrame({"doc_id": doc, "score": score})

    if not external:
        def _run(key, pdf):
            return _frame(*kernel(pdf, *bplan.value))

        per_shard = blocks.groupBy("segment", "shard").applyInPandas(
            _run, schema=RESULT_SCHEMA)
    else:
        # recursiveFileLookup: big deletes are adopted as whole t-<uuid>
        # DIRECTORIES (atomic rename); Spark's listing skips the
        # dot/underscore-prefixed staging dirs and _SUCCESS markers
        tomb = (spark.read.option("recursiveFileLookup", "true")
                     .parquet(head.store.p("tombstones")))
        # fresh column names break the shared lineage with `blocks`
        # (the cogroup below would otherwise trip Spark's ambiguous
        # self-join analysis — both sides descend from the same scan)
        doc_ranges = blocks.groupBy("segment", "shard").agg(
            F.min("min_doc_id").alias("_lo"),
            F.max("max_doc_id").alias("_hi"),
        ).select(
            F.col("segment").alias("_seg"),
            F.col("shard").alias("_shd"),
            "_lo", "_hi",
        )
        # the tombstone table is range-assigned to shards via a
        # broadcast join against the O(shards) range frame, so the full
        # set is never materialized on the driver nor shipped whole to
        # any executor
        assign = tomb.join(
            F.broadcast(doc_ranges),
            (tomb["doc_id"] >= F.col("_lo"))
            & (tomb["doc_id"] <= F.col("_hi")),
        ).select(
            F.col("_seg").alias("segment"),
            F.col("_shd").alias("shard"),
            "doc_id",
        )

        def _run_t(key, bpdf, tpdf):
            t = np.unique(tpdf["doc_id"].to_numpy(np.int64))
            return _frame(*kernel(bpdf, bplan.value[0], [t]))

        per_shard = blocks.groupBy("segment", "shard").cogroup(
            assign.groupBy("segment", "shard")
        ).applyInPandas(_run_t, schema=RESULT_SCHEMA)
    if k is None:
        return per_shard
    return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
