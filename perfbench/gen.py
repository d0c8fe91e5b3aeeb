"""Seeded Zipf corpus and request-stream generator for the benchmark.

Everything is a pure function of ``seed``: the same seed gives the same
vocabulary, documents, query pool and request streams. Generation is
vectorised numpy; only the final per-document string join is a Python
loop (one iteration per document, never per token).

Corpus model:

- vocabulary of ``n_terms`` distinct lowercase ASCII words, so the
  engine's NFKC + lowercase normalizer leaves them unchanged and the
  ``delimit`` tokenizer splits documents exactly at the generator's
  spaces. First letters follow English letter frequencies and frequent
  words are short, so typed prefixes cover realistic shares of the
  vocabulary;
- token draws are Zipf (s = ``zipf_s``) over word rank;
- document lengths are lognormal;
- ``category`` is a low-cardinality (Zipf-skewed) column for drilldowns
  and ``year`` an integer column for filters.

The generator keeps each document's token ids, so the oracle
(``oracle.py``) scores from the generator's own counts and never from
anything the engine produced.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: English letter frequencies (a..z), used for the letters of generated
#: words: typed prefixes then cover skewed shares of the vocabulary
#: ('s', 't', 'a' broad; 'q', 'x', 'z' narrow), as on real text.
LETTER_FREQ = np.array([
    8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
    6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074,
])
LETTER_FREQ = LETTER_FREQ / LETTER_FREQ.sum()

CATEGORIES = np.array([
    "news", "blog", "forum", "docs", "shop", "wiki", "mail", "code",
    "paper", "video", "music", "other",
])
YEAR_MIN, YEAR_MAX = 2000, 2023

#: one typed letter (``s*``) is the broad-prefix shape: a single search
#: takes seconds, longer than a run can hold (README.md)
MIN_PREFIX_LEN = 2

#: query shapes of the request pool, with their share of the pool
SHAPES = (
    ("head", 0.10), ("mid", 0.14), ("tail", 0.14), ("and2", 0.14),
    ("and3", 0.10), ("or", 0.12), ("not", 0.08), ("phrase", 0.10),
    ("prefix", 0.08),
)


@dataclass
class Corpus:
    """Documents as token-id runs plus the side columns."""

    terms: np.ndarray       # object array: term string by rank (0 = most frequent)
    doc_ids: np.ndarray     # int64, dense and ascending
    offsets: np.ndarray     # int64, len n_docs + 1: doc i's tokens are tokens[offsets[i]:offsets[i+1]]
    tokens: np.ndarray      # int32 term ranks, in document order
    category: np.ndarray    # object array of category strings
    year: np.ndarray        # int32

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)

    def texts(self) -> list[str]:
        words = self.terms[self.tokens]
        return [" ".join(words[a:b]) for a, b in
                zip(self.offsets[:-1].tolist(), self.offsets[1:].tolist())]

    def slice(self, lo: int, hi: int) -> "Corpus":
        """Documents ``lo..hi-1`` (by position) as a corpus of their own."""
        a, b = int(self.offsets[lo]), int(self.offsets[hi])
        return Corpus(self.terms, self.doc_ids[lo:hi],
                      self.offsets[lo:hi + 1] - a, self.tokens[a:b],
                      self.category[lo:hi], self.year[lo:hi])

    def arrow_table(self):
        import pyarrow as pa

        return pa.table({
            "doc_id": pa.array(self.doc_ids, pa.int64()),
            "text": pa.array(self.texts(), pa.string()),
            "category": pa.array(self.category.tolist(), pa.string()),
            "year": pa.array(self.year, pa.int32()),
        })


def make_vocabulary(rng: np.random.Generator, n_terms: int) -> np.ndarray:
    """``n_terms`` distinct lowercase words, ordered by Zipf rank: short
    words take the frequent ranks (with noise), as in natural text."""
    n_cand = int(n_terms * 1.3) + 1000
    lengths = np.clip(np.rint(rng.lognormal(np.log(7.0), 0.3, n_cand)),
                      3, 14).astype(np.int64)
    letters = rng.choice(26, size=int(lengths.sum()), p=LETTER_FREQ)
    chars = (letters + ord("a")).astype(np.uint8).tobytes().decode("ascii")
    ends = np.cumsum(lengths)
    words = np.array([chars[e - n:e] for e, n in
                      zip(ends.tolist(), lengths.tolist())], dtype=object)
    words, first = np.unique(words, return_index=True)
    words = words[np.argsort(first)][:n_terms]  # keep draw order, not sorted order
    if len(words) < n_terms:
        raise ValueError(f"vocabulary draw gave {len(words)} < {n_terms} "
                         "distinct words")
    wlen = np.array([len(w) for w in words], np.float64)
    order = np.argsort(wlen + rng.normal(0.0, 2.0, n_terms), kind="stable")
    return words[order]


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def draw_zipf(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    idx = np.searchsorted(cdf, rng.random(size), side="right")
    return np.minimum(idx, len(cdf) - 1)


def make_docs(rng: np.random.Generator, terms: np.ndarray, n_docs: int,
              first_id: int, mean_len: float, zipf_s: float) -> Corpus:
    lens = np.clip(np.rint(rng.lognormal(np.log(mean_len), 0.6, n_docs)),
                   4, 20 * mean_len).astype(np.int64)
    offsets = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    tokens = draw_zipf(rng, zipf_cdf(len(terms), zipf_s),
                       int(offsets[-1])).astype(np.int32)
    cat = CATEGORIES[draw_zipf(rng, zipf_cdf(len(CATEGORIES), 1.0), n_docs)]
    year = rng.integers(YEAR_MIN, YEAR_MAX + 1, n_docs).astype(np.int32)
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return Corpus(terms, doc_ids, offsets, tokens, cat, year)


def make_corpus(seed: int, n_docs: int, n_terms: int = 100_000,
                mean_len: float = 60.0, zipf_s: float = 1.0) -> Corpus:
    rng = np.random.default_rng([seed, 0])
    terms = make_vocabulary(rng, n_terms)
    return make_docs(rng, terms, n_docs, 0, mean_len, zipf_s)


def more_docs(corpus: Corpus, seed: int, n_docs: int, batch_no: int,
              mean_len: float = 60.0, zipf_s: float = 1.0) -> Corpus:
    """A micro-batch of new documents with ids above ``corpus``'s."""
    rng = np.random.default_rng([seed, 1, batch_no])
    return make_docs(rng, corpus.terms, n_docs,
                     int(corpus.doc_ids[-1]) + 1, mean_len, zipf_s)


def concat(a: Corpus, b: Corpus) -> Corpus:
    return Corpus(
        a.terms, np.concatenate([a.doc_ids, b.doc_ids]),
        np.concatenate([a.offsets, a.offsets[-1] + b.offsets[1:]]),
        np.concatenate([a.tokens, b.tokens]),
        np.concatenate([a.category, b.category]),
        np.concatenate([a.year, b.year]),
    )


# -- requests -----------------------------------------------------------------

def prefix_lengths(rng: np.random.Generator, size: int) -> np.ndarray:
    """Typed-prefix lengths: how far a user types before autocomplete
    (1 char rarely, 2-4 mostly)."""
    return rng.choice([1, 2, 3, 4, 5], size=size,
                      p=[0.05, 0.30, 0.35, 0.20, 0.10])


def make_query_pool(seed: int, corpus: Corpus, n_queries: int,
                    keep=None) -> list[tuple[str, str, tuple]]:
    """``n_queries`` distinct ``(shape, text, spec)`` requests.

    ``spec`` is the query's structure in term ranks, which the oracle
    evaluates without parsing ``text``:
    ``("term", r)``, ``("and", (r, ...))``, ``("or", (r1, r2))``,
    ``("not", (r1, r2), r3)`` for ``(a OR b) -c``,
    ``("phrase", (a, b))`` and ``("prefix", p)``.

    Term bands by rank: head = the 20 most frequent words, mid = ranks
    20..2000, tail = ranks 2000..30000; only words that occur in
    ``corpus`` are drawn. AND operands are mid-band words that occur
    together in one document, the way users combine words they saw;
    phrases are adjacent words of a document; prefixes are typed
    prefixes of words drawn from the corpus text; lengths below
    MIN_PREFIX_LEN are the broad-prefix shape, kept out of the measured
    streams (README.md). ``keep(spec)``, when given, filters
    candidates (the workloads keep queries with at least one hit)."""
    rng = np.random.default_rng([seed, 2])
    terms = corpus.terms
    v = len(terms)
    present = np.bincount(corpus.tokens, minlength=v) > 0
    band = {
        name: np.flatnonzero(present[lo:hi]) + lo
        for name, (lo, hi) in (("head", (0, 20)), ("mid", (20, 2000)),
                               ("tail", (2000, min(30000, v))))
    }
    names = [s for s, _ in SHAPES]
    probs = np.array([p for _, p in SHAPES])
    probs = probs / probs.sum()
    phrase_src = _bigram_sampler(corpus, rng)
    toks, offs = corpus.tokens, corpus.offsets

    def pick(name: str, n: int = 1) -> np.ndarray:
        return band[name][rng.integers(0, len(band[name]), n)]

    def cooccurring(n: int) -> np.ndarray | None:
        d = int(rng.integers(0, corpus.n_docs))
        words = np.unique(toks[offs[d]:offs[d + 1]])
        words = words[(words >= 20) & (words < 2000)]
        if len(words) < n:
            return None
        return rng.choice(words, n, replace=False).astype(np.int64)

    seen: set[str] = set()
    out: list[tuple[str, str, tuple]] = []
    while len(out) < n_queries:
        shape = names[int(rng.choice(len(names), p=probs))]
        if shape in band:
            r = int(pick(shape)[0])
            q, spec = terms[r], ("term", r)
        elif shape in ("and2", "and3"):
            r = cooccurring(2 if shape == "and2" else 3)
            if r is None:
                continue
            q, spec = " ".join(terms[r]), ("and", tuple(r.tolist()))
        elif shape == "or":
            r = pick("mid", 2)
            if r[0] == r[1]:
                continue
            q = f"{terms[r[0]]} OR {terms[r[1]]}"
            spec = ("or", tuple(r.tolist()))
        elif shape == "not":
            r = pick("mid", 3)
            if len(set(r.tolist())) < 3:
                continue
            q = f"({terms[r[0]]} OR {terms[r[1]]}) -{terms[r[2]]}"
            spec = ("not", (int(r[0]), int(r[1])), int(r[2]))
        elif shape == "phrase":
            a, b = phrase_src()
            if a == b:
                continue
            q, spec = f'"{terms[a]} {terms[b]}"', ("phrase", (a, b))
        else:  # prefix
            w = terms[int(toks[rng.integers(0, len(toks))])]
            n = int(prefix_lengths(rng, 1)[0])
            if n < MIN_PREFIX_LEN or n >= len(w):
                continue
            q, spec = w[:n] + "*", ("prefix", w[:n])
        if q not in seen and (keep is None or keep(spec)):
            seen.add(q)
            out.append((shape, q, spec))
    return out


def _bigram_sampler(corpus: Corpus, rng: np.random.Generator):
    """Draw adjacent word pairs that occur in the corpus (phrases users
    copy from text), skipping pairs that start with a head word."""
    toks = corpus.tokens
    last = corpus.offsets[1:] - 1
    ok = np.ones(len(toks), bool)
    ok[last] = False            # no pair across a document boundary
    ok[toks < 20] = False       # a phrase led by a stop-like head word is dull
    starts = np.flatnonzero(ok)

    def draw() -> tuple[int, int]:
        i = int(starts[rng.integers(0, len(starts))])
        return int(toks[i]), int(toks[i + 1])

    return draw


class RequestStream:
    """Request order over a query pool.

    Requests alternate between a NEW query (never sent before in this
    stream) and a REPEAT of an earlier one, so every run has the same
    share of repeats whatever the seed. Both kinds cycle through the
    shapes in seeded order, a block holding each shape once, so a short
    run still sends the same mix of shapes. A repeat is drawn Zipf-wise
    over the earlier queries of its shape, ranked by first appearance
    (the earliest are the most popular); ``among`` limits it to the
    first ``among`` queries of the stream and ``avoid`` excludes pool
    indices (while any other candidate is left)."""

    def __init__(self, seed: int, salt: int, pool: list):
        self._rng = np.random.default_rng([seed, 3, salt])
        self._pool = pool
        by_shape: dict[str, list[int]] = {}
        for i, (shape, _, _) in enumerate(pool):
            by_shape.setdefault(shape, []).append(i)
        self._queues = by_shape
        self._shapes = sorted(by_shape)
        self._blocks = {False: [], True: []}
        self.seen: list[int] = []
        self._n = 0

    def _shape(self, repeat: bool) -> str:
        block = self._blocks[repeat]
        if not block:
            block.extend(self._shapes[i] for i in
                         self._rng.permutation(len(self._shapes)))
        return block.pop()

    def next(self, among: int | None = None,
             avoid=frozenset()) -> tuple[int, bool]:
        """(pool index, is_repeat) of the next request."""
        self._n += 1
        earlier = self.seen if among is None else self.seen[:among]
        fresh = any(self._queues.values())
        if earlier and (self._n % 2 == 0 or not fresh):
            shape = self._shape(True)
            ok = [i for i in earlier if i not in avoid] or earlier
            cand = [i for i in ok if self._pool[i][0] == shape] or ok
            j = int(draw_zipf(self._rng, zipf_cdf(len(cand), 1.0), 1)[0])
            return cand[j], True
        while True:  # a shape whose queries are all sent is skipped
            q = self._queues[self._shape(False)]
            if q:
                i = q.pop()
                self.seen.append(i)
                return i, False
