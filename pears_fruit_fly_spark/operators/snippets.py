"""Query-dependent snippet extraction over the positional index.

Not in the reference (PeARS-fruit-fly returns stored doc metadata only);
this is the Lucene highlighter analog, and the positional posting layout
makes it index-only: the best snippet WINDOW per document is computed from
the query terms' stored positions — the raw text is only touched at the
very end, for the top-k rows, to slice out the chosen tokens (JVM
slice + array_join, no Python in that path).

Window scoring (UnifiedHighlighter-style): a candidate window starts at a
query-term hit position p and covers [p, p + window); its score is the sum
of idf(term) over every query-term hit inside — so rarer terms dominate the
choice, and a window holding several distinct rare terms beats one stuffed
with a common term. Ties: earliest window wins (deterministic).

Scale shape: the position fetch is the same partition-pruned block scan as
phrase_match, restricted to the candidate docs (top-k — tiny) by a
broadcast semi-join; per-doc best-window selection is one vectorized
prefix-sum + searchsorted pass over a doc-clustered partition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pears_fruit_fly_spark.functions.vocab import Vocab
from pears_fruit_fly_spark.operators.bm25 import (
    idf,
    lookup_terms,
    open_index,
    query_term_counts,
)

SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("snip_start", LongType()),
        StructField("snip_score", DoubleType()),
    ]
)


def snippet_spans(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    vocab: Vocab,
    candidates: DataFrame,
    window: int = 10,
) -> DataFrame:
    """Best snippet window per candidate doc → (doc_id, snip_start,
    snip_score). Docs with no query-term hit produce no row. Requires a
    store_positions build."""
    info, postings, _, _, tombstones, _, tomb_df = (
        open_index(spark, index_dir)
    )
    if not info.get("store_positions", False):
        raise ValueError(
            f"index at {index_dir} was built without store_positions=True — "
            "snippet extraction needs the positional posting layout"
        )
    qcounts = query_term_counts(query_text, vocab)
    if not qcounts:
        return spark.createDataFrame([], SPAN_SCHEMA)
    term_ids = sorted(qcounts)
    n_docs = info["n_docs"]

    found = lookup_terms(spark, index_dir, term_ids)
    weights = {t: idf(n_docs, df_) for t, (df_, _) in found.items()}
    buckets = sorted({bk for _, bk in found.values()})
    if not weights:
        return spark.createDataFrame([], SPAN_SCHEMA)

    blocks = postings.filter(
        F.col("term_bucket").isin(buckets)
        & F.col("term_id").isin(list(weights))
    ).select("term_id", "n", "first_doc", "tfs", "doc_gaps", "dls", "positions")

    from pears_fruit_fly_spark.operators.postings import (
        POSTING_ROWS_POS_DDL,
        decode_posting_rows_with_positions,
        doc_complete_batches,
    )

    b_weights = spark.sparkContext.broadcast(weights)
    b_tomb = spark.sparkContext.broadcast(tombstones)

    def _pairs(batches):
        # position payloads travel COMPRESSED (shared decode body)
        return decode_posting_rows_with_positions(batches, excl=b_tomb.value)

    pairs = blocks.mapInPandas(_pairs, POSTING_ROWS_POS_DDL).join(
        F.broadcast(
            candidates.select(F.col(candidates.columns[0]).alias("doc_id"))
        ),
        "doc_id",
        "left_semi",
    )
    if tomb_df is not None:
        # delete set too large for the broadcast array: distributed mask,
        # same contract as phrase_match (review finding — snippet_spans is
        # public; its candidates are not guaranteed pre-masked)
        pairs = pairs.join(tomb_df, "doc_id", "left_anti")

    def _best_window(batches):
        """Doc-clustered kernel: window score via prefix sums over sorted
        hit positions (doc_complete_batches keeps docs whole)."""
        w_map = b_weights.value

        def kernel(pdf: pd.DataFrame):
            from pears_fruit_fly_spark.operators.codec import decode_positions

            tf = pdf["tf"].to_numpy()
            flat, _ = decode_positions(b"".join(pdf["pos"]), tf)
            row = np.repeat(np.arange(len(pdf), dtype=np.int64), tf)
            d = pdf["doc_id"].to_numpy()[row]
            t = pdf["term_id"].to_numpy()[row]
            wt = np.array([w_map[int(x)] for x in pdf["term_id"]])[row]
            # sort hits by (doc, pos); composite key keeps searchsorted
            # doc-local. Doc ids may exceed 2^31 (design point: 10^12
            # dense ids), so the key uses the doc's DENSE RANK within the
            # batch (< 2^30 rows) instead of the raw id — same doc-local
            # segmentation, no int64 overflow at any id. Positions stay
            # < 2^32 (dl contract); the 33-bit shift leaves headroom so
            # pos + window cannot carry into the rank bits.
            rank = np.unique(d, return_inverse=True)[1].astype(np.int64)
            key = (rank << np.int64(33)) | flat.astype(np.int64)
            order = np.argsort(key, kind="stable")
            key, d, flat, wt = key[order], d[order], flat[order], wt[order]
            pref = np.concatenate([[0.0], np.cumsum(wt)])
            right = np.searchsorted(key, key + np.int64(window), side="left")
            scores = pref[right] - pref[np.arange(key.size)]
            # round before the argmax: windows holding the same weight
            # multiset must TIE exactly (then earliest wins) regardless of
            # float summation order — the cross-engine determinism contract
            scores = np.round(scores, 6)
            # earliest best window per doc: lexsort (pos asc within -score)
            pick = np.lexsort((flat, -scores, d))
            d_s = d[pick]
            first = np.ones(d_s.size, dtype=bool)
            first[1:] = d_s[1:] != d_s[:-1]
            sel = pick[first]
            return pd.DataFrame({
                "doc_id": d[sel],
                "snip_start": flat[sel],
                "snip_score": scores[sel],
            })

        for pdf in doc_complete_batches(batches):
            yield kernel(pdf)

    clustered = pairs.repartition("doc_id").sortWithinPartitions("doc_id")
    return clustered.mapInPandas(_best_window, SPAN_SCHEMA)


def snippets(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    vocab: Vocab,
    docs: DataFrame,
    k: int = 10,
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 WAND + highlighted snippet per hit → (doc_id, score,
    snip_start, snippet). Text is touched only for the k winners: the
    snippet is sliced JVM-side from the stored text's token array at the
    index-derived window (positions are full-token-stream ordinals, so the
    slice aligns exactly)."""
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand

    # k rows, referenced by both the candidate broadcast and the final
    # join — checkpoint once or the whole WAND scatter runs twice
    top = bm25_topk_wand(spark, index_dir, query_text, vocab, k=k)
    top = top.localCheckpoint(eager=True)
    spans = snippet_spans(
        spark, index_dir, query_text, vocab, top.select("doc_id"), window
    )
    # positions are ordinals over the NON-EMPTY token stream (tokens_long
    # Lucene-increment semantics), so the slice array drops empty split
    # artifacts — separator runs never shift the window
    toks = F.filter(
        F.split(F.regexp_replace(F.col(text_col), "\n", " "), " "),
        lambda x: x != "",
    )
    snippet = F.array_join(
        F.slice(toks, F.col("snip_start").cast("int") + 1, window), " "
    )
    return (
        top.join(spans, "doc_id")
        .join(docs.select(F.col(id_col).alias("doc_id"), text_col), "doc_id")
        .select("doc_id", "score", "snip_start", snippet.alias("snippet"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
