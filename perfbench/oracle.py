"""Independent BM25 oracle over the generator's own token counts.

Uses numpy only: no engine code, no parser, no index files. Queries
arrive as the generator's structured specs (``gen.make_query_pool``),
so the oracle never reads the query text the engine parses.

Semantics mirrored from the engine's documented contracts:

- BM25 with k1 = 1.2, b = 0.75 and idf = ln(1 + (N - df + 0.5) /
  (df + 0.5)); N, avgdl and df count every document in the corpus;
- AND sums the children's scores over the intersection, OR sums over
  the union, ``(a OR b) -c`` drops docs containing c;
- a phrase matches docs where the words are adjacent and scores as the
  sum of each word's whole-document BM25;
- a prefix is an OR over every corpus word with that prefix;
- deletes are tombstones: deleted docs leave the results but still
  count in N, avgdl and df until a rebuild (``FulltextIndex.delete_docs``);
- results rank by (score desc, doc_id asc).
"""

from __future__ import annotations

import numpy as np

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6  # the repo's rank-identity score tolerance

_EMPTY = (np.empty(0, np.int64), np.empty(0, np.float64))


class Oracle:
    def __init__(self, corpus, tombstones=()):
        n_docs = corpus.n_docs
        v = len(corpus.terms)
        self.terms = corpus.terms
        self.doc_ids = corpus.doc_ids
        self.category = corpus.category
        self.year = corpus.year
        lens = np.diff(corpus.offsets)
        self.tokens = corpus.tokens
        self.doc_of_token = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        # (term, doc) pairs sorted by term then doc, with their tf
        key = corpus.tokens.astype(np.int64) * n_docs + self.doc_of_token
        pairs, tf = np.unique(key, return_counts=True)
        p_term, p_doc = pairs // n_docs, pairs % n_docs
        df = np.bincount(p_term, minlength=v)
        self.ptr = np.zeros(v + 1, np.int64)
        np.cumsum(df, out=self.ptr[1:])
        self.p_doc = p_doc
        avgdl = lens.mean()
        idf = np.log1p((n_docs - df + 0.5) / (df + 0.5))
        tf = tf.astype(np.float64)
        dl = lens[p_doc].astype(np.float64)
        self.p_score = idf[p_term] * tf / (tf + K1 * (1.0 - B + B * dl / avgdl))
        self.live = np.ones(n_docs, bool)
        if len(tombstones):
            self.live[np.isin(self.doc_ids, np.asarray(tombstones))] = False
        self._sorted_terms = None

    # -- leaves ---------------------------------------------------------------

    def _term(self, r: int):
        a, b = self.ptr[r], self.ptr[r + 1]
        return self.p_doc[a:b], self.p_score[a:b]

    def _phrase(self, a: int, b: int):
        t = self.tokens
        d = self.doc_of_token
        hit = (t[:-1] == a) & (t[1:] == b) & (d[:-1] == d[1:])
        docs = np.unique(d[:-1][hit])
        da, sa = self._term(a)
        db, sb = self._term(b)
        return docs, sa[np.searchsorted(da, docs)] + sb[np.searchsorted(db, docs)]

    def _prefix(self, p: str):
        if self._sorted_terms is None:
            order = np.argsort(self.terms)
            self._sorted_terms = (self.terms[order].astype(str), order)
        words, order = self._sorted_terms
        lo = np.searchsorted(words, p, side="left")
        hi = np.searchsorted(words, p + "\x7f", side="left")
        return _or([self._term(int(r)) for r in order[lo:hi]])

    # -- queries --------------------------------------------------------------

    def scores(self, spec):
        """(doc positions sorted, scores) of every live match."""
        kind = spec[0]
        if kind == "term":
            docs, sc = self._term(spec[1])
        elif kind == "and":
            docs, sc = self._term(spec[1][0])
            for r in spec[1][1:]:
                d2, s2 = self._term(r)
                docs, i1, i2 = np.intersect1d(docs, d2, assume_unique=True,
                                              return_indices=True)
                sc = sc[i1] + s2[i2]
        elif kind == "or":
            docs, sc = _or([self._term(r) for r in spec[1]])
        elif kind == "not":
            docs, sc = _or([self._term(r) for r in spec[1]])
            keep = ~np.isin(docs, self._term(spec[2])[0])
            docs, sc = docs[keep], sc[keep]
        elif kind == "phrase":
            docs, sc = self._phrase(*spec[1])
        elif kind == "prefix":
            docs, sc = self._prefix(spec[1])
        else:
            raise ValueError(f"unknown query spec {spec!r}")
        keep = self.live[docs]
        return docs[keep], sc[keep]

    def top(self, spec, k: int = 10, year_min: int | None = None):
        """Top-k as (doc_ids, scores) ranked (score desc, doc_id asc)."""
        docs, sc = self.scores(spec)
        if year_min is not None:
            keep = self.year[docs] >= year_min
            docs, sc = docs[keep], sc[keep]
        order = np.lexsort((self.doc_ids[docs], -sc))[:k]
        return self.doc_ids[docs[order]], sc[order]

    def check_topk(self, spec, got_docs, got_scores, k: int = 10,
                   year_min: int | None = None) -> str | None:
        """None when ``got`` is the oracle's top-k, else the reason.

        Rank identity with exact ties allowed to swap: position i must
        hold a doc whose oracle score equals the oracle's i-th score
        within SCORE_TOL, and the reported score must too."""
        want_docs, want_sc = self.top(spec, k, year_min)
        if len(got_docs) != len(want_docs):
            return f"{len(got_docs)} results, oracle has {len(want_docs)}"
        if not len(want_docs):
            return None
        docs, sc = self.scores(spec)
        pos = np.searchsorted(self.doc_ids, np.asarray(got_docs, np.int64))
        pos = np.minimum(pos, len(self.doc_ids) - 1)
        at = np.searchsorted(docs, pos)
        at = np.minimum(at, max(len(docs) - 1, 0))
        found = (docs[at] == pos) & (self.doc_ids[pos] == got_docs)
        if not found.all():
            bad = np.asarray(got_docs)[~found][0]
            return f"doc {bad} is not a live match"
        if year_min is not None and (self.year[pos] < year_min).any():
            return "a result fails the filter"
        own = sc[at]
        gs = np.asarray(got_scores, np.float64)
        if (np.abs(own - want_sc) > SCORE_TOL).any():
            i = int(np.argmax(np.abs(own - want_sc) > SCORE_TOL))
            return (f"rank {i}: doc {got_docs[i]} has oracle score "
                    f"{own[i]!r}, rank wants {want_sc[i]!r}")
        if (np.abs(gs - want_sc) > SCORE_TOL).any():
            i = int(np.argmax(np.abs(gs - want_sc) > SCORE_TOL))
            return f"rank {i}: score {gs[i]!r}, oracle {want_sc[i]!r}"
        if len(set(np.asarray(got_docs).tolist())) != len(got_docs):
            return "duplicate doc in results"
        return None

    def match_count(self, spec, year_min: int | None = None) -> int:
        docs, _ = self.scores(spec)
        if year_min is not None:
            return int((self.year[docs] >= year_min).sum())
        return len(docs)

    def category_counts(self, spec, year_min: int | None = None) -> dict:
        docs, _ = self.scores(spec)
        if year_min is not None:
            docs = docs[self.year[docs] >= year_min]
        keys, counts = np.unique(self.category[docs].astype(str),
                                 return_counts=True)
        return dict(zip(keys.tolist(), counts.tolist()))


def _or(parts):
    parts = [p for p in parts if len(p[0])]
    if not parts:
        return _EMPTY
    if len(parts) == 1:
        return parts[0]
    docs = np.concatenate([p[0] for p in parts])
    sc = np.concatenate([p[1] for p in parts])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), np.float64)
    np.add.at(acc, inv, sc)
    return uniq, acc
