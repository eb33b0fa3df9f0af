"""Seeded benchmark inputs and the plain-Python reference view of them.

The base crawl is one fixed corpus (CORPUS_SEED), so its index can be
built once per checkout and reused (workloads.Run.ingest). Everything else
the engine receives comes from the workload seed: the facade query
schedule, phrases and boolean clauses, the batch query set, the gate's
extra phrase and boolean queries, the urls to delete and the appended
crawl. Raw crawl rows reach the engine without
their ``text`` column, so extraction is real work. The reference side
(expected extracted text, live documents, token lists) is derived from the
same generator output and never from engine results.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pears_fruit_fly_spark.config import INGEST_MIN_CHARS
from pears_fruit_fly_spark.fixtures.webtext import (
    fixture_vocab_terms,
    make_queries,
    make_vocab_file_lines,
    make_web_pages,
)
from pears_fruit_fly_spark.functions.vocab import Vocab, parse_vocab_lines

VOCAB_SIZE = 2000
CORPUS_SEED = 42  # fixtures.webtext.SEED
# serve mix per block of ten facade calls: bm25 60%, hybrid, hamming,
# phrase and boolean 10% each; the order inside a block is seeded
SERVE_BLOCK = ["bm25"] * 6 + ["hybrid", "hamming", "phrase", "boolean"]
BATCH_QUERIES = 2000
# extra queries the correctness gate sends after the timed ops of update:
# "should should -not" queries, then one "+must should -not", over the
# terms of frequency rank GATE_POOL, which each occur in roughly 15-65% of
# the base documents, so every clause changes the answer. No boolean query
# names its must_not term among its other terms: the engine drops such an
# exclusion (the open must_not-overlap bug in ROADMAP.md), and the
# benchmark sends only queries the engine answers correctly
GATE_BOOLEAN = 4
GATE_PHRASES = 1
GATE_POOL = slice(100, 400)
# make_queries draws each query's terms from one frequency tier
_TIERS = ((0, 40, 0, VOCAB_SIZE // 40),
          (40, 80, VOCAB_SIZE // 40, VOCAB_SIZE // 4),
          (80, 100, VOCAB_SIZE // 4, VOCAB_SIZE))


def expected_text(pages: pd.DataFrame) -> list[str | None]:
    """What extraction must return per raw row: the generator's text, or
    None where the payload is not valid UTF-8."""
    out = []
    for html, text in zip(pages["html"], pages["text"]):
        try:
            bytes(html).decode("utf-8")
        except UnicodeDecodeError:
            out.append(None)
        else:
            out.append(text)
    return out


def live_pages(pages: pd.DataFrame) -> pd.DataFrame:
    """Rows the ingest keeps: the ingest filter (non-null text of at least
    INGEST_MIN_CHARS characters, lang en), then the latest crawl per url."""
    df = pages.assign(text=expected_text(pages))
    keep = (
        df["text"].notna()
        & (df["text"].fillna("").str.len() >= INGEST_MIN_CHARS)
        & (df["lang"] == "en")
    )
    df = df[keep].sort_values("warc_ts", ascending=False, kind="stable")
    return df.drop_duplicates("url")[["url", "text"]].reset_index(drop=True)


@dataclass
class Inputs:
    seed: int
    vocab: Vocab
    pages: pd.DataFrame            # base crawl, generator columns
    new_pages: pd.DataFrame        # appended crawl (update workload)
    queries: list[str]             # facade query texts, seeded order
    schedule: list[tuple[str, str]] = field(default_factory=list)
    batch: dict[int, str] = field(default_factory=dict)
    delete_urls: list[str] = field(default_factory=list)
    warmup: list[tuple[str, str]] = field(default_factory=list)
    gate: list[tuple[str, str]] = field(default_factory=list)

    def raw(self, pages: pd.DataFrame) -> pd.DataFrame:
        """The rows handed to the engine: no text column."""
        return pages.drop(columns=["text"])

    def digest(self) -> str:
        """sha256 over every generated row and query, so two runs can be
        shown to have used identical inputs."""
        h = hashlib.sha256()
        for df in (self.pages, self.new_pages):
            for url, ts, html, lang in zip(df["url"], df["warc_ts"],
                                           df["html"], df["lang"]):
                h.update(f"{url}\0{ts.isoformat()}\0{lang}\0".encode())
                h.update(bytes(html))
        for kind, text in self.schedule + self.gate:
            h.update(f"{kind}\0{text}\n".encode())
        for qid, text in self.batch.items():
            h.update(f"{qid}\0{text}\n".encode())
        for url in self.delete_urls:
            h.update(url.encode() + b"\n")
        return h.hexdigest()[:16]


def _boolean_query(rng: np.random.Generator, qid: int, text: str,
                   terms: list[str]) -> str:
    """'+must should... -not': must and should come from a query of one
    tier, the must_not term is drawn from the same tier among the terms
    the query does not already hold (see GATE_BOOLEAN)."""
    words = text.split()
    lo, hi = next((lo, hi) for q0, q1, lo, hi in _TIERS if q0 <= qid < q1)
    excl = _other_term(rng, terms[lo:hi], words)
    return " ".join(["+" + words[0], *words[1:], "-" + excl])


def _other_term(rng: np.random.Generator, pool: list[str],
                taken: list[str]) -> str:
    """A random term of pool that is not in taken."""
    free = [t for t in pool if t not in taken]
    return free[int(rng.integers(len(free)))]


def _phrase(rng: np.random.Generator, live: pd.DataFrame) -> str:
    """Two adjacent tokens of a random live document."""
    while True:
        toks = live["text"].iloc[int(rng.integers(len(live)))].split()
        if len(toks) >= 2:
            i = int(rng.integers(len(toks) - 1))
            return f"{toks[i]} {toks[i + 1]}"


def make_inputs(seed: int, n_docs: int, n_blocks: int = 64) -> Inputs:
    vocab = parse_vocab_lines(make_vocab_file_lines(VOCAB_SIZE))
    pages = make_web_pages(n_docs, v=VOCAB_SIZE, seed=CORPUS_SEED)
    new_pages = make_web_pages(max(10, n_docs // 10), v=VOCAB_SIZE,
                               seed=seed + 100_003)
    new_pages["url"] = new_pages["url"].str.replace(
        "https://", "https://fresh.", regex=False)

    rng = np.random.default_rng(seed)
    qdf = make_queries(seed, VOCAB_SIZE)
    order = rng.permutation(len(qdf))
    qids = [int(qdf["query_id"].iloc[i]) for i in order]
    texts = [str(qdf["query_text"].iloc[i]) for i in order]
    terms = fixture_vocab_terms(VOCAB_SIZE)
    live = live_pages(pages)

    schedule: list[tuple[str, str]] = []
    for b in range(n_blocks):
        for j, kind in enumerate(rng.permutation(SERVE_BLOCK)):
            i = (b * len(SERVE_BLOCK) + j) % len(texts)
            if kind == "phrase":
                schedule.append((kind, _phrase(rng, live)))
            elif kind == "boolean":
                schedule.append(
                    (kind, _boolean_query(rng, qids[i], texts[i], terms)))
            else:
                schedule.append((str(kind), texts[i]))

    batch: dict[int, str] = {}
    for r in range((BATCH_QUERIES + len(qdf) - 1) // len(qdf)):
        extra = make_queries(seed + 7919 * (r + 1), VOCAB_SIZE)
        for text in extra["query_text"]:
            if len(batch) < BATCH_QUERIES:
                batch[len(batch)] = str(text)

    # a bm25 and a phrase call (the two index read paths), taken from the
    # schedule's last block, which the timed loop never reaches
    warmup = {kind: (kind, text) for kind, text in schedule[-len(SERVE_BLOCK):]
              if kind in ("bm25", "phrase")}
    n_del = max(1, len(live) // 100)
    delete_urls = sorted(
        live["url"].iloc[rng.choice(len(live), n_del, replace=False)])
    gate = [("phrase", _phrase(rng, live)) for _ in range(GATE_PHRASES)]
    for i in range(GATE_BOOLEAN):
        pool = terms[GATE_POOL]
        a, b = (pool[int(rng.integers(len(pool)))] for _ in range(2))
        excl = _other_term(rng, pool, [a, b])
        must = "+" if i == GATE_BOOLEAN - 1 else ""
        gate.append(("boolean", f"{must}{a} {b} -{excl}"))
    return Inputs(seed, vocab, pages, new_pages, texts, schedule, batch,
                  list(delete_urls), list(warmup.values()), gate)
