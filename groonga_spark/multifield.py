"""Weighted multi-field (section) match — ``match_columns "title*10||body"``.

Re-expresses the reference's multi-column match with per-column weights
[G: select match_columns "title * 10 || body"; index WITH_SECTION —
lib/proc/proc_select.c builds one expr where each query term matches the
OR of the listed columns, per-column scores scaled by the weight].

Spark-first shape: instead of one index with section ids packed into the
postings (the reference's WITH_SECTION layout), each field gets its OWN
index under ``<path>/fields/<name>/`` — a partitioned layout, so a query
over ``title*10||body`` touches exactly those fields' postings and a
field can rebuild independently. Scoring is simple BM25F: per-field BM25
with the field's own df/avgdl, scaled by the column weight, summed —
score(d) = Σ_leaf Σ_field w_f · BM25_f(leaf, d).

Semantics match the reference's expansion: query ``a b`` over columns
(title, body) means (title@a OR body@a) AND (title@b OR body@b) — a doc
with `a` only in the title and `b` only in the body MATCHES. That forces
leaf-level cross-field combination (an AND of per-field full-query
results would be wrong). Both evaluators run on the single-field
executor, search.execute_plan:

- search() of an eligible shape (single-token terms under one AND/OR,
  optionally with NOTs) plans once across the fields (_pruned_plan) and
  executes ONE interval-pruned BM25F kernel (_bm25f_topk) with every
  queried field as a source — each field's term ids offset into its own
  namespace — driver-local or per-(segment, shard), like single-field
  search;
- every other shape, and match_docs, evaluates the AST here with
  algebra.combine over (doc_id, score) DataFrames; each leaf×field runs
  the segment kernel through FulltextIndex.match_ast.

Scale notes: the pruned top-k reads each field's postings of the query
terms once; the exhaustive path makes q leaves × F fields kernel runs,
each term_id-pruned, and its combine joins are tiny (match sets). At
10^12 docs the per-field layout is the win — fields prune like
partitions, and a weight change recosts without touching postings.
"""

from __future__ import annotations

import functools
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from groonga_spark.algebra import combine
from groonga_spark.build import build_index
from groonga_spark.ql import (
    And,
    Near,
    Not,
    Or,
    Phrase,
    Prefix,
    Similar,
    Term,
    parse_query,
)
from groonga_spark.search import (
    _FIELD_SHIFT,
    FulltextIndex,
    execute_plan,
    result_frame,
)
from groonga_spark.wand import SegmentQueryKernel, TermPostings

MANIFEST = "multifield.json"


def parse_match_columns(spec: str) -> list[tuple[str, float]]:
    """``"title * 10 || body"`` → ``[("title", 10.0), ("body", 1.0)]``."""
    out = []
    for part in spec.split("||"):
        part = part.strip()
        if not part:
            continue
        if "*" in part:
            name, w = part.split("*", 1)
            out.append((name.strip(), float(w.strip())))
        else:
            out.append((part, 1.0))
    if not out:
        raise ValueError(f"empty match_columns spec: {spec!r}")
    return out


def build_multifield_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    fields: list[str],
    mode: str = "delimit",
    id_col: str = "doc_id",
    **kwargs,
) -> dict:
    """Build one index per text field of ``docs`` (WITH_SECTION analogue).

    Docs with an empty/null field still count toward that field's corpus
    stats (dl = 0) — BM25F per-field avgdl stays honest.
    """
    os.makedirs(path, exist_ok=True)
    metas = {}
    for f in fields:
        metas[f] = build_index(
            spark,
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(F.col(f), F.lit("")).alias("text"),
            ),
            os.path.join(path, "fields", f),
            mode=mode,
            **kwargs,
        )
    manifest = {"fields": list(fields), "mode": mode}
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return {"manifest": manifest, "fields": metas}


def append_multifield(spark: SparkSession, docs: DataFrame, path: str,
                      id_col: str = "doc_id") -> dict:
    """Bring EVERY field index under ``path`` up to date with ``docs``
    (the full current table) — the repair path for the command facade's
    ``load`` → ``index_stale`` flag. Per-field streaming.append_docs
    (each field adopts its recorded tokenizer mode); only segments with
    new docs rebuild, so a micro-batch append costs O(batch), not
    O(corpus). The append contract (new, monotonically growing doc ids)
    applies per field; open handles pick the change up via their
    generation check."""
    from groonga_spark.streaming import append_docs

    with open(os.path.join(path, MANIFEST)) as fh:
        man = json.load(fh)
    out = {}
    for f in man["fields"]:
        out[f] = append_docs(
            spark,
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.coalesce(F.col(f), F.lit("")).alias("text"),
            ),
            os.path.join(path, "fields", f),
            mode=None,
        )
    return out


class MultiFieldIndex:
    """Query handle over a build_multifield_index layout."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, MANIFEST)) as fh:
            self.manifest = json.load(fh)
        self._fields: dict[str, FulltextIndex] = {}

    def field(self, name: str) -> FulltextIndex:
        if name not in self.manifest["fields"]:
            raise KeyError(f"unknown field {name!r}; "
                           f"indexed: {self.manifest['fields']}")
        if name not in self._fields:
            self._fields[name] = FulltextIndex(
                self.spark, os.path.join(self.path, "fields", name)
            )
        return self._fields[name]

    def delete_docs(self, doc_ids) -> None:
        """Tombstone doc ids in EVERY field index (a document deleted
        from the table disappears from all its section indexes at once
        [G: lib/db.c · grn_obj_remove → per-index-column hooks]).
        Accepts the same forms as FulltextIndex.delete_docs — a small
        driver-side iterable or a Spark DataFrame of ids (executor-side
        tombstone write). Either form is pinned ONCE before the
        per-field fan-out: a DataFrame is localCheckpoint'd so its
        lineage doesn't re-execute per field and a non-deterministic
        source can't tombstone DIFFERENT id sets in different section
        indexes; an iterable is materialized so generators survive."""
        if isinstance(doc_ids, DataFrame):
            doc_ids = doc_ids.localCheckpoint(eager=True)
        else:
            doc_ids = list(doc_ids)
        for name in self.manifest["fields"]:
            self.field(name).delete_docs(doc_ids)

    # -- evaluation ---------------------------------------------------------

    def _empty(self) -> DataFrame:
        return result_frame(self.spark)

    def _leaf(self, node, cols: list[tuple[str, float]]) -> DataFrame:
        """Weighted cross-field OR of one query leaf — the reference's
        (col1@t OR col2@t) expansion with weights; combine order = the
        match_columns listing (deterministic float sums)."""
        out = None
        for name, w in cols:
            fidx = self.field(name)
            df = fidx.match_ast(fidx._expand_ast(node))
            if w != 1.0:
                df = df.select(
                    "doc_id", (F.col("score") * F.lit(float(w))).alias("score")
                )
            out = df if out is None else combine(out, df, "or")
        return out if out is not None else self._empty()

    def _eval(self, node, cols) -> DataFrame:
        if node is None:
            return self._empty()
        if isinstance(node, (Term, Phrase, Prefix, Near, Similar)):
            # positional/similarity leaves evaluate per field through the
            # same kernel (cross-field OR like any other leaf)
            return self._leaf(node, cols)
        if isinstance(node, And):
            pos = [c for c in node.children if not isinstance(c, Not)]
            neg = [c.child for c in node.children if isinstance(c, Not)]
            acc = None
            for c in pos:
                r = self._eval(c, cols)
                acc = r if acc is None else combine(acc, r, "and")
            if acc is None:
                return self._empty()
            for c in neg:
                acc = combine(acc, self._eval(c, cols), "and_not")
            return acc
        if isinstance(node, Or):
            acc = None
            for c in node.children:
                r = self._eval(c, cols)
                acc = r if acc is None else combine(acc, r, "or")
            return acc if acc is not None else self._empty()
        if isinstance(node, Not):
            return self._empty()  # bare NOT needs a left set
        raise TypeError(type(node))

    # -- public API ---------------------------------------------------------

    def _cols(self, match_columns: str | None) -> list[tuple[str, float]]:
        if match_columns is None:
            return [(f, 1.0) for f in self.manifest["fields"]]
        return parse_match_columns(match_columns)

    def _pruned_plan(self, ast, cols: list[tuple[str, float]]):
        """The BM25F plan of an eligible query, for execute_plan with
        _bm25f_topk (driver-cheap: tokenize the leaves once, one pruned
        lexicon lookup per field). Returns None when the SHAPE isn't
        eligible (multi-token leaves, Prefix/Near/Similar, nested OR/AND
        mixes); "empty" when an AND leaf matches no field; else a dict:
        mode, groups/neg_tids and needed_tids over the field-offset tid
        namespace (field i's ids offset by (i + 1) << _FIELD_SHIFT),
        per-offset-tid df, per-field stats."""
        from groonga_spark.normalize import normalize_str
        from groonga_spark.tokenize import tokenize_str

        if isinstance(ast, Term):
            pos, neg, mode = [ast], [], "and"
        elif isinstance(ast, And):
            pos = [c for c in ast.children if not isinstance(c, Not)]
            neg = [c.child for c in ast.children if isinstance(c, Not)]
            if not pos or not all(isinstance(c, Term) for c in pos + neg):
                return None
            mode = "and"
        elif isinstance(ast, Or):
            pos, neg, mode = list(ast.children), [], "or"
            if not pos or not all(isinstance(c, Term) for c in pos):
                return None
        else:
            return None

        tok_mode = self.manifest["mode"]
        texts = []
        for c in pos + neg:
            toks = [t for t, _ in
                    tokenize_str(normalize_str(c.text), tok_mode)]
            if len(toks) != 1:
                return None  # multi-token leaf (ngram/phrase) → exhaustive
            texts.append(toks[0])

        # Driver-mask invariant (search.execute_plan): past
        # TOMBSTONE_DRIVER_MAX rows the driver must never materialize the
        # tombstone set, and the executor's cogroup masks one source
        # only — so a giant pre-compaction delete makes the pruned SHAPE
        # ineligible; callers fall back to the exhaustive per-field
        # algebra, whose FulltextIndex path masks executor-side past the
        # threshold.
        est_tombs = 0
        for name, _w in cols:
            fidx = self.field(name)
            fidx._check_generation()
            est_tombs += fidx._tombstone_rows_estimate()
        if est_tombs > FulltextIndex.TOMBSTONE_DRIVER_MAX:
            return None

        mapped: list[dict[str, int]] = []
        df_by_tid: dict[int, float] = {}
        stats_by_field: dict[int, dict] = {}
        for fi, (name, _w) in enumerate(cols):
            fidx = self.field(name)
            off = (fi + 1) << _FIELD_SHIFT
            rows = fidx._lexicon_lookup(sorted(set(texts)))
            mapped.append({t: off + tid for t, tid, _df in rows})
            for _t, tid, df in rows:
                df_by_tid[off + tid] = float(df)
            stats_by_field[fi] = fidx._stats()

        groups = []
        for tok in texts[: len(pos)]:
            members = []
            for fi, (_name, w) in enumerate(cols):
                mt = mapped[fi].get(tok)
                if mt is not None:
                    members.append((mt, float(w)))
            if members:
                groups.append({"kind": "or", "members": members,
                               "post": None})
            elif mode == "and":
                return "empty"  # an AND leaf matches no field
        if not groups:
            return "empty"
        neg_tids = []
        for tok in texts[len(pos):]:
            for fi in range(len(cols)):
                mt = mapped[fi].get(tok)
                if mt is not None:
                    neg_tids.append(mt)
        return {
            "mode": mode,
            "groups": groups,
            "neg_tids": neg_tids,
            "needed_tids": sorted(df_by_tid),
            "df_by_tid": df_by_tid,
            "stats_by_field": stats_by_field,
        }

    def _sources(self, cols: list[tuple[str, float]]):
        """execute_plan sources: each queried field with its tid offset."""
        return [(self.field(name), (fi + 1) << _FIELD_SHIFT)
                for fi, (name, _w) in enumerate(cols)]

    def match_docs(self, query: str,
                   match_columns: str | None = None) -> DataFrame:
        """(doc_id, score) of every match under the column spec."""
        return self._eval(parse_query(query), self._cols(match_columns))

    def match_ast(self, ast, match_columns: str | None = None) -> DataFrame:
        """match_docs over a pre-expanded AST (select's match-escalation
        path enters here with lexicon-expanded terms that must never
        round-trip through the QL parser)."""
        return self._eval(ast, self._cols(match_columns))

    def _prefix_terms(self, prefix: str, limit: int | None = None,
                      match_columns: str | None = None) -> list[str]:
        """Per-field escalation semantics: the prefix expands against
        the UNION of the queried fields' lexicons (each field is its own
        section index with its own vocabulary [G: WITH_SECTION]), in
        match_columns order, deduplicated; each field's scan honors
        ``limit`` and the union is re-capped to it."""
        out: list[str] = []
        seen: set[str] = set()
        for name, _w in self._cols(match_columns):
            for t in self.field(name)._prefix_terms(prefix, limit=limit):
                if t not in seen:
                    seen.add(t)
                    out.append(t)
        if limit is not None and len(out) > limit:
            out = out[:limit]
        return out

    def search(self, query: str, match_columns: str | None = None,
               k: int = 10) -> DataFrame:
        """BM25F top-k → (doc_id, score), (score desc, doc_id asc).

        Eligible shapes run _bm25f_topk through search.execute_plan —
        driver-local for small posting volumes, per-(segment, shard) on
        the cluster past the driver cap (field layouts share shard
        boundaries, so one shard group holds every field's blocks for
        its doc range); remaining shapes, and fields with different
        shard geometry on the cluster route, fall back to the exhaustive
        leaf-level algebra + global sort."""
        ast = parse_query(query)
        cols = self._cols(match_columns)
        pp = self._pruned_plan(ast, cols)
        if pp == "empty":
            return self._empty()
        if pp is not None:
            got = execute_plan(self._sources(cols), pp,
                               functools.partial(_bm25f_topk, k), k, None)
            if isinstance(got, DataFrame):
                return got
            if got is not None:
                return result_frame(self.spark, *got)
        return (
            self.match_docs(query, match_columns)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )


def _bm25f_topk(k: int, blocks, plan: dict, tombs: list):
    """BM25F top-k of a _pruned_plan over ``blocks`` (every field's
    postings, tids in the field-offset namespace) through the interval
    pruner — ONE kernel call over members drawn from every field, each
    member carrying its field's stats and tombstones. Group model: one
    or-kind group per query leaf, members = (field, token) in
    match_columns order with weight w_f — upper bounds Σ w_f·bound_f per
    interval, so a head-term query stops after the top-k stabilizes
    exactly like the single-field path. Bit-identical to the exhaustive
    DataFrame algebra (member adds in cols order == the combine('or')
    chain; group adds in child order == the combine('and') chain)."""
    by_tid = {}
    for tid, g in blocks.groupby("term_id"):
        tid = int(tid)
        fi = (tid >> _FIELD_SHIFT) - 1
        by_tid[tid] = TermPostings(g, plan["df_by_tid"][tid], tombs[fi],
                                   plan["stats_by_field"][fi])
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    # drop members without postings here (a shard, or a field) —
    # preserves member order
    groups = []
    for g in plan["groups"]:
        members = [(t, w) for t, w in g["members"] if t in by_tid]
        if members:
            groups.append({"kind": "or", "members": members, "post": None})
        elif plan["mode"] == "and":
            return empty  # a leaf matches no field here
    if not groups:
        return empty
    neg = [t for t in plan["neg_tids"] if t in by_tid]
    kern = SegmentQueryKernel.from_term_postings(
        by_tid, plan["stats_by_field"][0], k)
    return kern._topk_interval_pruned(groups, plan["mode"], None, neg)
