"""Correctness gate: engine results against plain-Python references.

Runs after the timed phase and outside every timed metric. Each check
returns None when the result is right and a one-line description of the
mismatch otherwise; the caller counts every mismatch as a failed op.

* bm25 (facade bm25/hybrid and batch): ``oracle.bm25_numpy.BM25Oracle``
  over the live documents — same ranks, scores within 1e-9; two docs may
  trade places only when their reference scores are within 1e-9 too.
* phrase: exact adjacency over the raw token lists, scored with the
  single-term BM25 formula over the phrase's occurrence statistics.
* boolean: set semantics over vocab-filtered token sets (every must term,
  no must_not term), ranked by the oracle's BM25 of the must+should terms.
* hamming: shape only — k distinct live urls. The facade joins the docmap
  after the top-k, so these rows carry no order; they are checked as a set.
"""

from __future__ import annotations

import math

import numpy as np

from pears_fruit_fly_spark.functions.tokenizer import whitespace_tokenize
from pears_fruit_fly_spark.oracle.bm25_numpy import BM25Oracle

SCORE_TOL = 1e-9


class Expected:
    """The reference top-k plus the reference score of every eligible doc."""

    def __init__(self, ranked: list[tuple[str, float]], score_of: dict[str, float]):
        self.ranked = ranked
        self.score_of = score_of


def compare(got: list[tuple[str, float]], want: Expected) -> str | None:
    """Same length, scores within SCORE_TOL rank by rank, and each url where
    the reference has another one holds a reference score within SCORE_TOL
    of the expected one: docs whose scores differ by less than the
    tolerance (float64 summation order, last-bit differences) may trade
    places, nothing else may."""
    ranked = want.ranked
    if len(got) != len(ranked):
        return f"{len(got)} results, want {len(ranked)}: got {got[:2]} want {ranked[:2]}"
    if len({u for u, _ in got}) != len(got):
        return "a url is returned twice"
    for i, ((gu, gs), (wu, ws)) in enumerate(zip(got, ranked)):
        if not math.isclose(gs, ws, rel_tol=0.0, abs_tol=SCORE_TOL):
            return f"rank {i}: score {gs!r}, want {ws!r} ({wu})"
        if gu != wu:
            ref = want.score_of.get(gu)
            if ref is None or not math.isclose(ref, ws, rel_tol=0.0,
                                               abs_tol=SCORE_TOL):
                return (f"rank {i}: got {gu} (reference score {ref!r}), "
                        f"want {wu} ({ws!r})")
    return None


class Reference:
    """docs: (doc_id, url, text) for every document the index counts in its
    statistics; ``hidden`` urls are counted but never returned (tombstoned
    before a merge)."""

    def __init__(self, docs, vocab, hidden=()):
        self.vocab = vocab
        self.oracle = BM25Oracle([(d, t) for d, _, t in docs], vocab)
        self.urls = [u for _, u, _ in docs]
        self.texts = [t for _, _, t in docs]
        self._words: list[list[str]] | None = None
        hidden = set(hidden)
        self.hidden = np.array([u in hidden for u in self.urls], dtype=bool)
        self.live = {u for u in self.urls if u not in hidden}  # returnable urls
        self.k1, self.b = self.oracle.k1, self.oracle.b
        self._cache: dict = {}

    def _rank(self, scores: np.ndarray, k: int, mask=None) -> Expected:
        ok = (scores > 0.0) & ~self.hidden
        if mask is not None:
            ok &= mask
        ids = np.asarray(self.oracle.doc_ids)
        idx = [i for i in np.flatnonzero(ok)]
        idx.sort(key=lambda i: (-scores[i], ids[i]))
        return Expected([(self.urls[i], float(scores[i])) for i in idx[:k]],
                        {self.urls[i]: float(scores[i]) for i in idx})

    def bm25(self, text: str, k: int) -> Expected:
        key = ("bm25", text, k)
        if key not in self._cache:
            self._cache[key] = self._rank(self.oracle.score_query(text), k)
        return self._cache[key]

    def boolean(self, query: str, k: int) -> Expected:
        must, must_not, should = [], [], []
        for tok in query.split():
            if tok.startswith("+"):
                must.append(tok[1:])
            elif tok.startswith("-"):
                must_not.append(tok[1:])
            else:
                should.append(tok)
        t2i = self.vocab.term_to_id
        docs = self.oracle.doc_terms
        if any(t not in t2i for t in must):
            return Expected([], {})
        need = {t2i[t] for t in must}
        banned = {t2i[t] for t in must_not if t in t2i}
        scoring = {t2i[t] for t in must + should if t in t2i}
        mask = np.array([
            (need <= c.keys() if need else bool(scoring & c.keys()))
            and not (banned & c.keys())
            for c in docs
        ], dtype=bool)
        return self._rank(self.oracle.score_query(" ".join(must + should)), k, mask)

    def phrase(self, text: str, k: int) -> Expected:
        """Positions count every whitespace token, in-vocab or not."""
        toks = whitespace_tokenize(text)
        if not toks or any(t not in self.vocab.term_to_id for t in toks):
            return Expected([], {})
        if self._words is None:
            self._words = [whitespace_tokenize((t or "").replace("\n", " "))
                           for t in self.texts]
        n = len(toks)
        tf = np.zeros(len(self.texts), dtype=np.int64)
        for i, words in enumerate(self._words):
            if not self.hidden[i]:
                tf[i] = sum(words[j:j + n] == toks
                            for j in range(len(words) - n + 1)
                            if words[j] == toks[0])
        df = int((tf > 0).sum())
        o = self.oracle
        w = math.log((o.n_docs - df + 0.5) / (df + 0.5) + 1.0)
        tfd, dl = tf.astype(np.float64), o.dl
        impact = (tfd * (self.k1 + 1.0)) / (
            tfd + self.k1 * (1.0 - self.b + self.b * dl / o.avgdl))
        scores = np.where(tf > 0, w * impact, 0.0)
        return self._rank(scores, k)


def check_hamming(rows: list[tuple[str, int]], k: int,
                  live_urls: set[str]) -> str | None:
    want = min(k, len(live_urls))
    if len({u for u, _ in rows}) != len(rows) or len(rows) != want:
        return f"hamming returned {len(rows)} rows, want {want} distinct"
    stray = [u for u, _ in rows if u not in live_urls]
    if stray:
        return f"hamming returned non-live urls {stray[:3]}"
    return None
