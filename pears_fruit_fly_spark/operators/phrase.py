"""Phrase and boolean queries over the positional inverted index.

Not in the reference (PeARS-fruit-fly serves signature search only —
dense_fruit_fly/fly_search.py:124-127 ranks by Hamming-similarity argsort);
this is the standard fulltext-engine surface (Lucene PhraseQuery /
BooleanQuery) the north_rule's index family implies, built on the
`store_positions` posting layout (operators/codec.py, operators/postings.py).

Execution shape — 100 TB first:

* Phrase match ships COMPRESSED position payloads, not exploded rows: the
  partition-pruned posting blocks of the phrase terms are split into
  per-posting rows (doc_id, term_id, tf, dl, pos-bytes) WITHOUT decoding
  (codec.slice_position_stream — varbyte terminators locate boundaries),
  hash-clustered by doc_id in ONE exchange whose volume is the compressed
  position bytes (~1-2 B/token occurrence), then matched by a vectorized
  NumPy kernel per partition: decode all positions in one pass, form
  (doc, start = pos - off, off) triples, lexsort, and count runs covering
  every distinct phrase offset. No per-block Python loop, no exploded-row
  shuffle, no second aggregation exchange — for head-term phrases this is
  ~10x less exchange volume than the naive (doc,start) groupBy form.
* Phrase BM25 treats the phrase as a pseudo-term: tf = occurrence count in
  the doc, df = number of matching docs (computed on the result itself via
  a broadcast 1-row aggregate — no driver hop, no single-partition window),
  dl travels in the posting blocks as always. Rank = score desc, doc asc.
* Boolean candidates come from ONE partition-pruned decode scan of the
  must + must_not terms (or, with no must terms, the should-universe +
  must_not terms) and ONE groupBy(doc_id) aggregate with no term cap:
  size(collect_set) of the kept terms per doc must equal the must count
  (or be > 0 on the universe path), and max(term IN must_not) must be
  false. Phrases intersect via phrase_match; scoring = the block-max WAND
  top-k with the candidate set COGROUPED into the scatter
  (bm25.bm25_topk_wand(candidate_df=...) — the scale path, no driver
  materialization).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pears_fruit_fly_spark.functions.tokenizer import whitespace_tokenize
from pears_fruit_fly_spark.functions.vocab import Vocab
from pears_fruit_fly_spark.operators.bm25 import idf, lookup_terms, open_index

MATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phrase_tf", LongType()),
        StructField("dl", LongType()),
    ]
)


def _phrase_offsets(phrase_text: str, vocab: Vocab) -> dict[int, list[int]] | None:
    """Ordered phrase tokens → {term_id: [offsets]}. None when any token is
    OOV: an unindexed word can never satisfy its slot, so the phrase matches
    nothing (Lucene semantics for a required position with no postings)."""
    toks = whitespace_tokenize(phrase_text.replace("\n", " "))
    if not toks:
        return None
    offsets: dict[int, list[int]] = {}
    for off, tok in enumerate(toks):
        tid = vocab.term_to_id.get(tok)
        if tid is None:
            return None
        offsets.setdefault(tid, []).append(off)
    return offsets


def phrase_match(
    spark: SparkSession,
    index_dir: str,
    phrase_text: str,
    vocab: Vocab,
) -> DataFrame:
    """Docs containing the exact phrase → (doc_id, phrase_tf, dl).

    Positions are full-token-stream ordinals (OOV words advance positions —
    postings.tokens_long), so adjacency means adjacency in the original
    text's token sequence. Requires a store_positions build; raises
    otherwise. Tombstoned docs are masked (driver-size sets inside the
    decode UDF, larger sets via distributed anti-join)."""
    info, postings, _, _, tombstones, _, tomb_df = open_index(spark, index_dir)
    if not info.get("store_positions", False):
        raise ValueError(
            f"index at {index_dir} was built without store_positions=True — "
            "phrase queries need the positional posting layout "
            "(PostingsConfig(store_positions=True))"
        )
    offsets = _phrase_offsets(phrase_text, vocab)
    if offsets is None:
        return spark.createDataFrame([], MATCH_SCHEMA)
    n_offsets = sum(len(v) for v in offsets.values())
    term_ids = sorted(offsets)

    found = lookup_terms(spark, index_dir, term_ids)
    if len(found) < len(term_ids):
        # a phrase term with zero postings can never fill its slot
        return spark.createDataFrame([], MATCH_SCHEMA)
    buckets = sorted({bk for _, bk in found.values()})

    # partition-pruned scan of exactly the phrase terms' buckets
    blocks = postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term_id").isin(term_ids)
    ).select("term_id", "n", "first_doc", "tfs", "doc_gaps", "dls", "positions")

    from pears_fruit_fly_spark.operators.postings import (
        POSTING_ROWS_POS_DDL,
        decode_posting_rows_with_positions,
        doc_complete_batches,
    )

    b_offsets = spark.sparkContext.broadcast(offsets)
    b_tomb = spark.sparkContext.broadcast(tombstones)

    def _pairs(batches):
        # position payloads travel COMPRESSED (shared decode body)
        return decode_posting_rows_with_positions(batches, excl=b_tomb.value)

    pairs = blocks.mapInPandas(_pairs, POSTING_ROWS_POS_DDL)
    if tomb_df is not None:
        # tombstone set too large for a broadcast array: distributed mask
        pairs = pairs.join(tomb_df, "doc_id", "left_anti")

    def _match(batches):
        """Vectorized phrase kernel over a doc-clustered, doc-sorted
        partition (doc_complete_batches keeps each doc's rows whole)."""
        offs = b_offsets.value

        def kernel(pdf: pd.DataFrame):
            from pears_fruit_fly_spark.operators.codec import decode_positions

            tf = pdf["tf"].to_numpy()
            flat, _ = decode_positions(
                b"".join(pdf["pos"]), tf
            )
            row = np.repeat(np.arange(len(pdf), dtype=np.int64), tf)
            p_doc = pdf["doc_id"].to_numpy()[row]
            p_term = pdf["term_id"].to_numpy()[row]
            p_dl = pdf["dl"].to_numpy()[row]
            # (doc, start, off) triples — one slice per distinct offset of
            # each term (phrase length is tiny, so this loop is O(L))
            docs_l, starts_l, offs_l, dl_l = [], [], [], []
            for tid, offlist in offs.items():
                sel = p_term == tid
                if not sel.any():
                    continue
                for off in offlist:
                    docs_l.append(p_doc[sel])
                    starts_l.append(flat[sel] - off)
                    offs_l.append(np.full(int(sel.sum()), off, dtype=np.int64))
                    dl_l.append(p_dl[sel])
            if not docs_l:
                return None
            d = np.concatenate(docs_l)
            s = np.concatenate(starts_l)
            o = np.concatenate(offs_l)
            dl = np.concatenate(dl_l)
            # (doc, start, off) triples are unique by construction, so the
            # run length of each (doc, start) IS its distinct-offset count
            order = np.lexsort((o, s, d))
            d, s, dl = d[order], s[order], dl[order]
            new = np.ones(d.size, dtype=bool)
            new[1:] = (d[1:] != d[:-1]) | (s[1:] != s[:-1])
            run_id = np.cumsum(new) - 1
            run_len = np.bincount(run_id)
            hit = run_len == n_offsets
            if not hit.any():
                return None
            rs = np.flatnonzero(new)  # run start index per run
            hit_docs = d[rs[hit]]
            hit_dls = dl[rs[hit]]
            uniq_docs, first_idx, counts = np.unique(
                hit_docs, return_index=True, return_counts=True
            )
            return pd.DataFrame({
                "doc_id": uniq_docs,
                "phrase_tf": counts.astype(np.int64),
                "dl": hit_dls[first_idx],
            })

        for pdf in doc_complete_batches(batches):
            out = kernel(pdf)
            if out is not None:
                yield out

    # ONE exchange, volume = compressed position bytes; local sort clusters
    # each doc's rows so the kernel sees complete docs. Numbered
    # repartition (r6): the keyed form is AQE-coalescible and a phrase's
    # few MB of position payloads coalesce to ONE partition, serializing
    # the match kernel into a single task.
    par = spark.sparkContext.defaultParallelism
    clustered = pairs.repartition(par, "doc_id").sortWithinPartitions(
        "doc_id"
    )
    return clustered.mapInPandas(_match, MATCH_SCHEMA)


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrase_text: str,
    vocab: Vocab,
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 of the phrase-as-pseudo-term → (doc_id, score).

    score = idf(phrase_df) * impact(phrase_tf, dl) with the index's k1/b —
    exactly the single-term BM25 formula over the phrase's occurrence
    statistics. The match set is localCheckpointed once (review finding:
    referencing the lazy plan from both the phrase_df aggregate and the
    scoring branch re-ran the clustered sort + match kernel twice), so
    phrase_df becomes a driver scalar and scoring reads the materialized
    matches; top-k compiles to TakeOrderedAndProject."""
    info, *_ = open_index(spark, index_dir)
    n_docs, avgdl = info["n_docs"], info["avgdl"]
    k1, b = info["k1"], info["b"]
    matches = phrase_match(spark, index_dir, phrase_text, vocab)
    matches = matches.localCheckpoint(eager=True)
    phrase_df = matches.count()
    tf = F.col("phrase_tf").cast("double")
    dl = F.col("dl").cast("double")
    impact = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    w = idf(n_docs, phrase_df)
    return (
        matches.select("doc_id", (F.lit(w) * impact).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# boolean query surface
# ---------------------------------------------------------------------------


def parse_query(query: str) -> dict:
    """Mini query-string grammar → structured clauses.

    ``+word`` must contain, ``-word`` must NOT contain, ``"a b c"`` exact
    phrase (must), ``-"a b"`` excluded phrase, bare words are should-terms
    (rank, don't filter). Example: ``+spark -flink "fruit fly" hashing``."""
    import re

    not_phrases = re.findall(r'-"([^"]*)"', query)
    rest = re.sub(r'-"[^"]*"', " ", query)
    phrases = re.findall(r'"([^"]*)"', rest)
    rest = re.sub(r'"[^"]*"', " ", rest)
    must, must_not, should = [], [], []
    for tok in whitespace_tokenize(rest.replace("\n", " ")):
        if tok.startswith("+") and len(tok) > 1:
            must.append(tok[1:])
        elif tok.startswith("-") and len(tok) > 1:
            must_not.append(tok[1:])
        else:
            should.append(tok)
    return {
        "must": must,
        "must_not": must_not,
        "phrases": [p for p in phrases if p.strip()],
        "not_phrases": [p for p in not_phrases if p.strip()],
        "should": should,
    }


def _candidates(
    spark: SparkSession,
    index_dir: str,
    must_ids: list[int],
    not_ids: list[int],
    any_ids: list[int],
) -> DataFrame:
    """doc_ids holding ALL must terms (or, with no must terms, ANY of
    any_ids) and NO must_not term, from ONE partition-pruned decode scan and
    ONE groupBy(doc_id) aggregate, for any number of terms.

    Per doc, size(collect_set(kept term)) counts the distinct kept terms
    (duplicate (doc, term) rows across blocks/segments collapse in the set)
    and max(term IN not) flags an excluded term. Every must_not term stays
    in the scan even when it is also a kept term, so ``+a -a`` is empty and
    ``a b -a`` is the b-docs without a (Lucene semantics)."""
    keep = sorted(set(must_ids) or set(any_ids))
    found = lookup_terms(spark, index_dir, sorted(set(keep) | set(not_ids)))
    keep_found = [t for t in keep if t in found]
    if not keep_found or (must_ids and len(keep_found) < len(keep)):
        # a must term with no postings, or an empty should-universe
        return spark.createDataFrame([], "doc_id long")
    _, postings, *_ = open_index(spark, index_dir)
    blocks = postings.filter(
        F.col("term_bucket").isin(sorted({bk for _, bk in found.values()}))
        & F.col("term_id").isin(list(found))
    ).select("term_id", "n", "first_doc", "tfs", "doc_gaps", "dls")

    def _ids(batches):
        from pears_fruit_fly_spark.operators.codec import decode_blocks_batch

        for pdf in batches:
            if pdf.empty:
                continue
            ids, _, _, rix = decode_blocks_batch(
                pdf["n"].to_numpy(), pdf["first_doc"].to_numpy(),
                pdf["doc_gaps"], pdf["tfs"], pdf["dls"],
            )
            yield pd.DataFrame({
                "doc_id": ids,
                "term_id": pdf["term_id"].to_numpy()[rix].astype(np.int32),
            })

    term = F.col("term_id")
    agg = (
        blocks.mapInPandas(_ids, "doc_id long, term_id int")
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set(F.when(term.isin(keep_found), term))).alias("n"),
            F.max(term.isin([t for t in not_ids if t in found])).alias("x"),
        )
    )
    hit = (F.col("n") == len(keep)) if must_ids else (F.col("n") > 0)
    return agg.filter(hit & ~F.col("x")).select("doc_id")


def search_boolean(
    spark: SparkSession,
    index_dir: str,
    query: str | dict,
    vocab: Vocab,
    k: int = 10,
) -> DataFrame:
    """Boolean retrieval + BM25 ranking → (doc_id, score), score desc/doc asc.

    Clause semantics (Lucene BooleanQuery): must terms, must_not terms and
    phrases FILTER the candidate set — must/must_not through one _candidates
    aggregate (docs holding every must term and no must_not term; with no
    must terms, the in-vocab phrase words stand in as the required set, or
    else the scored must+should OR-universe), phrases through positional
    match, not-phrases by left_anti — and ranking is BM25 over must+should
    terms via the block-max WAND top-k with the candidate set cogrouped
    into the scatter. A query with only should-terms and no filters
    degrades to plain WAND (no candidate set at all — the fast common
    case). Phrase clauses require a store_positions build."""
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand

    clauses = parse_query(query) if isinstance(query, str) else dict(query)
    must = clauses.get("must") or []
    must_not = clauses.get("must_not") or []
    phrases = clauses.get("phrases") or []
    not_phrases = clauses.get("not_phrases") or []
    should = clauses.get("should") or []

    def tid(tok: str):
        return vocab.term_to_id.get(tok)

    def empty() -> DataFrame:
        return spark.createDataFrame([], "doc_id long, score double")

    must_ids = [tid(t) for t in must]
    if any(t is None for t in must_ids):
        return empty()  # an OOV must-term matches nothing
    not_ids = [t for t in (tid(x) for x in must_not) if t is not None]

    cand: DataFrame | None = None
    if must_ids or not_ids or (not_phrases and not phrases):
        # required set: the must terms, else every in-vocab phrase word
        # (each phrase match holds them all); with neither, NOT subtracts
        # from the docs holding a scoring term (exactly what would be
        # scored)
        required = must_ids or [
            t for p in phrases for t in (_phrase_offsets(p, vocab) or ())
        ]
        scoring = [t for t in (tid(x) for x in must + should) if t is not None]
        if not (required or scoring):
            return empty()
        cand = _candidates(spark, index_dir, required, not_ids, scoring)
    for p in phrases:
        pm = phrase_match(spark, index_dir, p, vocab).select("doc_id")
        cand = pm if cand is None else cand.join(pm, "doc_id")
    for p in not_phrases:
        cand = cand.join(
            phrase_match(spark, index_dir, p, vocab).select("doc_id"),
            "doc_id", "left_anti",
        )

    score_text = " ".join(must + should)
    if not score_text:
        # pure filter query: every candidate "matches equally" — score 0,
        # deterministic doc_id order; deleted docs masked like every path
        if cand is None:
            return empty()
        _, _, _, _, _, tomb_count, _ = open_index(spark, index_dir)
        if tomb_count > 0:
            from pears_fruit_fly_spark.operators.postings import (
                read_tombstones_df,
            )

            # always the anti-join form: a 100k-id isin list would degrade
            # the expression tree (ADVICE r2 class of bug)
            cand = cand.join(
                read_tombstones_df(spark, index_dir), "doc_id", "left_anti"
            )
        return (
            cand.select("doc_id", F.lit(0.0).alias("score"))
            .orderBy("doc_id").limit(k)
        )
    return bm25_topk_wand(
        spark, index_dir, score_text, vocab, k=k, candidate_df=cand
    )
