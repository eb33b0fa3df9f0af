"""Rank identity: Spark BM25 (relational + WAND) vs the pinned NumPy oracle.

SURVEY.md §5.2 item 3: scores to 1e-9, ranks exact, ties by doc_id asc,
over the frozen query set (FIXTURES.md §4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pears_fruit_fly_spark.config import BM25Config, PostingsConfig
from pears_fruit_fly_spark.fixtures.webtext import make_queries
from pears_fruit_fly_spark.operators.bm25 import (
    bm25_topk_relational,
    bm25_topk_wand,
    query_term_counts,
)
from pears_fruit_fly_spark.operators.docids import assign_doc_ids
from pears_fruit_fly_spark.operators.postings import build_postings, tokens_long
from pears_fruit_fly_spark.oracle.bm25_numpy import BM25Oracle
from pears_fruit_fly_spark.sources.wet import dedup_latest


@pytest.fixture(scope="module")
def corpus(spark, pages_df, vocab, tmp_path_factory):
    clean = dedup_latest(pages_df)
    ids = assign_doc_ids(clean, "url")
    pages_ids = clean.join(ids, "url").persist()
    d = str(tmp_path_factory.mktemp("bm25index"))
    info = build_postings(
        spark, pages_ids, vocab, d,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=50,
                           max_docs_per_subpartition=40),
    )
    oracle = BM25Oracle(
        [(r["doc_id"], r["text"]) for r in pages_ids.select("doc_id", "text").collect()],
        vocab,
    )
    tokens = tokens_long(pages_ids, vocab).persist()
    return {"pages": pages_ids, "dir": d, "info": info, "oracle": oracle,
            "tokens": tokens}


QUERIES = make_queries(v=500)


def _assert_rank_identical(got, want, qid):
    assert len(got) == len(want), f"q{qid}: {len(got)} vs {len(want)} rows"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"q{qid} rank {rank}: doc {gd} != {wd}"
        assert abs(gs - ws) < 1e-9, f"q{qid} rank {rank}: {gs} vs {ws}"


@pytest.mark.parametrize("qid", [0, 1, 5, 17, 42, 63, 80, 91, 96])
def test_wand_rank_identity(spark, corpus, vocab, qid):
    row = QUERIES.iloc[qid]
    want = corpus["oracle"].topk(row.query_text, int(row.k))
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_wand(
            spark, corpus["dir"], row.query_text, vocab, k=int(row.k), n_ranges=4
        ).collect()
    ]
    _assert_rank_identical(got, want, qid)


@pytest.mark.parametrize("qid", [2, 30, 55, 85, 93, 97])
def test_relational_rank_identity(spark, corpus, vocab, qid):
    row = QUERIES.iloc[qid]
    oracle = corpus["oracle"]
    want = oracle.topk(row.query_text, int(row.k))
    q = query_term_counts(row.query_text, vocab)
    got_df = bm25_topk_relational(
        corpus["tokens"], q, oracle.n_docs, oracle.avgdl, int(row.k)
    )
    got = [(r["doc_id"], r["score"]) for r in got_df.collect()]
    _assert_rank_identical(got, want, qid)


def test_wand_oov_only_query(spark, corpus, vocab):
    assert (
        bm25_topk_wand(spark, corpus["dir"], "zz_oov xx_oov", vocab, k=5).count() == 0
    )


def test_wand_matches_relational_on_all_frozen_queries(spark, corpus, vocab):
    """Cheaper full sweep: WAND vs oracle on every 7th frozen query."""
    oracle = corpus["oracle"]
    for qid in range(0, 100, 7):
        row = QUERIES.iloc[qid]
        want = oracle.topk(row.query_text, int(row.k))
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_wand(
                spark, corpus["dir"], row.query_text, vocab, k=int(row.k),
                n_ranges=3,
            ).collect()
        ]
        _assert_rank_identical(got, want, qid)


def test_wand_prefilter_composition(spark, corpus, vocab):
    """Hamming-candidate prefilter: scored set restricted to candidates."""
    oracle = corpus["oracle"]
    row = QUERIES.iloc[3]
    full = oracle.topk(row.query_text, 50)
    cand = {d for d, _ in full[::2]}  # pretend prefilter kept every other doc
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_wand(
            spark, corpus["dir"], row.query_text, vocab, k=10, n_ranges=4,
            candidate_df=spark.createDataFrame(
                [(d,) for d in sorted(cand)], "doc_id long"),
        ).collect()
    ]
    want = [(d, s) for d, s in full if d in cand][:10]
    _assert_rank_identical(got, want, "prefilter")


def test_wand_candidate_df_reports_decoded_blocks(spark, corpus, vocab):
    """The cogrouped (candidate_df) scatter feeds the same decoded-block
    accumulator as the plain scatter."""
    row = QUERIES.iloc[3]
    cand = spark.createDataFrame(
        [(d,) for d, _ in corpus["oracle"].topk(row.query_text, 50)],
        "doc_id long",
    )
    inst: dict = {}
    assert bm25_topk_wand(
        spark, corpus["dir"], row.query_text, vocab, k=10, n_ranges=4,
        candidate_df=cand, instrument=inst,
    ).count() == 10
    assert inst["decoded_blocks"].value > 0


def test_wand_builds_lazily(spark, corpus, vocab):
    """With a warm open_index, building the WAND query submits no Spark job
    at any k; only the action does."""
    from pears_fruit_fly_spark.operators.bm25 import open_index

    open_index(spark, corpus["dir"])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    row = QUERIES.iloc[3]
    try:
        for k in (10, 100):
            group = f"wand-lazy-k{k}"
            sc.setJobGroup(group, "laziness guard")
            top = bm25_topk_wand(spark, corpus["dir"], row.query_text, vocab,
                                 k=k, n_ranges=4)
            assert list(tracker.getJobIdsForGroup(group)) == [], k
            top.collect()
            assert list(tracker.getJobIdsForGroup(group)), k
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_relational_bm25_property_random_corpora(spark, vocab):
    """Property check beyond the frozen set: random mini-corpora + random
    queries must match the oracle through the relational path."""
    import numpy as np

    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_relational

    rng = np.random.default_rng(123)
    terms = vocab.terms
    for trial in range(4):
        n = int(rng.integers(5, 40))
        docs = []
        for i in range(n):
            toks = [terms[int(rng.integers(0, min(50, len(terms))))]
                    for _ in range(int(rng.integers(1, 60)))]
            docs.append((i, " ".join(toks)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        oracle = BM25Oracle(docs, vocab)
        from pears_fruit_fly_spark.operators.postings import tokens_long

        tokens = tokens_long(df.withColumnRenamed("doc_id", "doc_id"), vocab)
        qtext = " ".join(
            terms[int(rng.integers(0, 50))] for _ in range(int(rng.integers(1, 4)))
        )
        q = query_term_counts(qtext, vocab)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_relational(
                tokens, q, oracle.n_docs, oracle.avgdl, 10
            ).collect()
        ]
        want = oracle.topk(qtext, 10)
        _assert_rank_identical(got, want, f"prop{trial}")


def test_batch_wand_rank_identity(spark, corpus, vocab):
    """Batch serving: every query's top-k identical to the oracle."""
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand_batch

    qids = [0, 5, 17, 42, 63, 80, 91, 96, 99]
    queries = {qid: QUERIES.iloc[qid].query_text for qid in qids}
    got_rows = bm25_topk_wand_batch(
        spark, corpus["dir"], queries, vocab, k=10, n_ranges=4
    ).collect()
    by_q: dict[int, list] = {}
    for r in got_rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    oracle = corpus["oracle"]
    for qid in qids:
        want = oracle.topk(queries[qid], 10)
        got = sorted(by_q.get(qid, []), key=lambda x: (-x[1], x[0]))
        _assert_rank_identical(got, want, f"batch{qid}")


def test_batch_wand_chunked_equals_unchunked(spark, corpus, vocab):
    """The bounded-memory query chunking (ADVICE r5 — cap gathered
    postings per task) must be invisible in results: a pathologically
    tiny budget that forces a chunk per query returns exactly the
    default-budget rows."""
    from pears_fruit_fly_spark.operators import bm25 as bm

    queries = {qid: QUERIES.iloc[qid].query_text for qid in range(20)}
    full = sorted(
        map(tuple, bm.bm25_topk_wand_batch(
            spark, corpus["dir"], queries, vocab, k=10, n_ranges=4
        ).collect())
    )
    saved = bm._BATCH_GATHER_BUDGET
    try:
        bm._BATCH_GATHER_BUDGET = 100
        tiny = sorted(
            map(tuple, bm.bm25_topk_wand_batch(
                spark, corpus["dir"], queries, vocab, k=10, n_ranges=4
            ).collect())
        )
    finally:
        bm._BATCH_GATHER_BUDGET = saved
    assert tiny == full and len(full) > 0


def test_batch_wand_all_oov(spark, corpus, vocab):
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand_batch

    out = bm25_topk_wand_batch(spark, corpus["dir"], {0: "zz_oov"}, vocab, k=5)
    assert out.count() == 0


def test_build_and_wand_with_arrow_disabled(spark, vocab, tmp_path_factory):
    """Regression (VERDICT r1 #1): on a session WITHOUT Arrow-backed pandas
    conversion (the driver harness's vanilla session), createDataFrame(pdf)
    used to infer the vocab dimension's numpy-int32 term_id as LongType; the
    staged tokens then carried INT64 term_id and the stage-2 re-read under
    the explicit INT32 schema threw SchemaColumnConvertNotSupportedException.
    vocab_to_df_minimal now pins the schema; build+query must work either
    way, on BOTH token paths."""
    docs = [(i, f"t{i % 7} t{(i * 3) % 11} t1 t2") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    oracle = BM25Oracle(docs, vocab)
    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        for jvm in (True, False):
            d = str(tmp_path_factory.mktemp(f"noarrow{int(jvm)}"))
            build_postings(
                spark, df, vocab, d,
                cfg=PostingsConfig(num_partitions=4, jvm_tokenizer=jvm),
            )
            got = [
                (r["doc_id"], r["score"])
                for r in bm25_topk_wand(spark, d, "t1 t2", vocab, k=8,
                                        n_ranges=3).collect()
            ]
            _assert_rank_identical(got, oracle.topk("t1 t2", 8), f"noarrow{jvm}")
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)


def test_wand_property_random_corpora(spark, vocab, tmp_path_factory):
    """Full-pipeline property check: random corpus -> build index -> WAND
    top-k must match the oracle (beyond the frozen query set)."""
    import numpy as np

    rng = np.random.default_rng(777)
    terms = vocab.terms
    for trial in range(2):
        n = int(rng.integers(30, 80))
        docs = []
        for i in range(n):
            toks = [terms[int(rng.integers(0, 80))]
                    for _ in range(int(rng.integers(3, 120)))]
            docs.append((i, " ".join(toks)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        d = str(tmp_path_factory.mktemp(f"wandprop{trial}"))
        build_postings(
            spark, df, vocab, d,
            cfg=PostingsConfig(num_partitions=4, skew_df_threshold=20,
                               max_docs_per_subpartition=15),
        )
        oracle = BM25Oracle(docs, vocab)
        for _ in range(3):
            qtext = " ".join(
                terms[int(rng.integers(0, 80))]
                for _ in range(int(rng.integers(1, 4)))
            )
            got = [
                (r["doc_id"], r["score"])
                for r in bm25_topk_wand(spark, d, qtext, vocab, k=8,
                                        n_ranges=3).collect()
            ]
            _assert_rank_identical(got, oracle.topk(qtext, 8), f"wp{trial}")


def test_wand_auto_ranges(spark, corpus, vocab):
    """n_ranges=None derives scatter width from n_docs (scale note, VERDICT
    r1 W6): small corpus -> one range per core, results rank-identical."""
    from pears_fruit_fly_spark.operators.bm25 import _auto_ranges

    assert _auto_ranges(spark, 100) == spark.sparkContext.defaultParallelism
    assert _auto_ranges(spark, 40_000_000) == 10  # 4M docs per range
    row = QUERIES.iloc[7]
    want = corpus["oracle"].topk(row.query_text, int(row.k))
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_wand(
            spark, corpus["dir"], row.query_text, vocab, k=int(row.k)
        ).collect()
    ]
    _assert_rank_identical(got, want, "auto_ranges")


def test_wand_skewed_corpus_rank_identity(spark, vocab, tmp_path):
    """VERDICT r5 #5: Zipf doc lengths (head docs ~50x the median) +
    head-term queries — the adversarial case for even doc-id range
    splitting — must stay rank-identical to the NumPy oracle."""
    import numpy as np

    from pears_fruit_fly_spark.fixtures.webtext import make_web_pages

    pdf = make_web_pages(n=400, v=500, seed=77)
    reps = np.maximum(
        1, (30 / (1 + np.arange(len(pdf)) % 100) ** 0.7)
    ).astype(int)
    pdf["text"] = [
        " ".join([t] * int(r)) if r > 1 else t
        for t, r in zip(pdf["text"].str.slice(0, 500), reps)
    ]
    pages = spark.createDataFrame(pdf)
    clean = dedup_latest(pages)
    ids = assign_doc_ids(clean, "url")
    pages_ids = clean.join(ids, "url").persist()
    d = str(tmp_path / "skewidx")
    build_postings(
        spark, pages_ids, vocab, d,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=50,
                           max_docs_per_subpartition=40),
    )
    oracle = BM25Oracle(
        [(r["doc_id"], r["text"])
         for r in pages_ids.select("doc_id", "text").collect()],
        vocab,
    )
    for q in ("t0 t1", "t0 t2 t3", "t0 t1 t2 t3 t4"):
        want = oracle.topk(q, 10)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_wand(spark, d, q, vocab, k=10,
                                    n_ranges=4).collect()
        ]
        _assert_rank_identical(got, want, f"skew:{q}")
