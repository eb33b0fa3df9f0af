"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator family from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame job over the driver testdata tables;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL. Column names/types and
float rounding are aligned on both sides (the driver hashes values after
sorting columns by name).

Tokenization contract shared by both sides everywhere:
lower(text) split on '[^a-z0-9]+', empties dropped — see
pears_fruit_fly_spark/functions/tokenizer.py (SPARK_TOKEN_SPLIT_PATTERN).

Non-SQL-expressible ops (fruit-fly signatures / Hamming top-k / WAND over the
compressed index internals / LSH with xxhash64 / multimodal) are exposed as
rows-only checks, except q_bm25_wand whose oracle is the same SQL as the
relational BM25 — that IS the rank-identity cross-check through DuckDB.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pears_fruit_fly_spark.operators.dedup import tokens_array

# ---------------------------------------------------------------------------
# shared constants — keep Spark and DuckDB in lockstep
# ---------------------------------------------------------------------------

BM25_K1, BM25_B = 1.2, 0.75
QUERY_TERMS = ["join", "hash", "window"]      # frozen engine-query for BM25 checks
FP_MOD = (1 << 31) - 1
MINHASH_PARAMS = [(131, 7), (271, 19), (523, 3), (1031, 47), (2053, 11),
                  (4099, 29), (8209, 5), (16411, 37)]  # (a, b) small-int affine
SIMHASH_BITS = 16
SIMHASH_MULT = 2654435761  # Knuth multiplicative constant

# DuckDB tokenization CTE fragments (documents table)
_SQL_TOKS = (
    "SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '')) AS term FROM documents"
)
_SQL_TOKS_POS = (
    "SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks)+1)) AS pos "
    "FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)"
)
_SQL_TERM_RANKS = (
    "SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS rid "
    "FROM (SELECT DISTINCT term FROM toks)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table, re-spread to full parallelism when the file layout
    plans fewer tasks than cores: the testdata tables are single parquet
    files, so every tokenize/shingle explode would otherwise run on ONE
    task. Values are unaffected (aggregations are order-insensitive); at
    real scale the input is many files and the repartition is a no-op
    branch."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) one row per token occurrence."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_array("text")).alias("term")
    )


def _tokens_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, pos) with pos 1-based (matches DuckDB range zip)."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(tokens_array("text")).alias("pos0", "term")
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))


def _term_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic term dictionary: rid = alphabetic rank (1-based)."""
    w = Window.orderBy("term")
    return (
        _tokens(spark, sf_dir).select("term").distinct()
        .withColumn("rid", F.row_number().over(w).cast("long"))
    )


# ---------------------------------------------------------------------------
# entry — flagship query (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the compressed inverted index over the sf0.001
    documents table and answer a BM25 top-10 via block-max WAND."""
    return q_bm25_wand(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def q_ingest_filter(spark, sf_dir):
    """P2+P3: length & language predicates (pushdown-eligible)."""
    return (
        _docs(spark, sf_dir)
        .filter((F.col("n_chars") >= 200) & (F.col("lang") == "en"))
        .select("doc_id", "lang", "n_chars")
    )


def q_token_counts(spark, sf_dir):
    """A1/F2: per-(doc, term) term frequency."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def q_doc_freq(spark, sf_dir):
    """A8: document frequency + collection frequency per term."""
    return (
        q_token_counts(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf"))
    )


def q_doclen(spark, sf_dir):
    """BM25 dl statistic per doc (docs with 0 tokens excluded — same as SQL)."""
    return _tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dl")
    )


def q_collection_stats(spark, sf_dir):
    """A8: N, total token count, avgdl (over docs with >=1 token)."""
    dl = q_doclen(spark, sf_dir)
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


def q_top_terms_per_doc(spark, sf_dir):
    """W-family ranking window: top-5 terms per doc by (tf desc, term asc)."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return (
        q_token_counts(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "rank")
    )


def q_keywords_weighted(spark, sf_dir):
    """F3+F4+F9: idf-cubed weighting (mirrors the fly's (-logprob)^3,
    fruit_fly/hash.py:51) then top-3 keywords per doc."""
    tf = q_token_counts(spark, sf_dir)
    stats = q_doc_freq(spark, sf_dir).select("term", "cf")
    # total token count rides along as a broadcast 1-row agg (same pattern
    # as _bm25_scores_df) — no separate driver-side .count() action
    total = _tokens(spark, sf_dir).agg(
        F.count("*").cast("double").alias("total")
    )
    weighted = (
        tf.join(stats, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "w",
            F.col("tf") * F.pow(-F.log(F.col("cf") / F.col("total")), 3.0),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", F.round("w", 4).alias("weight"))
    )


def _bm25_scores_df(spark, sf_dir):
    """Relational BM25 with ZERO wide shuffles (r6): the query has three
    fixed terms, so per-doc tf and dl are array expressions over the
    tokenized text (size/filter — pure codegen), not explode + two
    groupBy exchanges + joins. Collection stats (n_docs, total_tokens,
    per-term df) come from ONE narrow aggregate over the same per-doc
    rows and ride along as a broadcast 1-row cross join, exactly like the
    oracle SQL's CROSS JOIN stats. Values are identical to the old
    explode+join form: tf_t = count of t in the doc, dl = in-doc token
    count, df_t = docs with tf_t>0, and a tf=0 term contributes exactly
    0.0 to the sum, so summing all three terms per doc equals the old
    per-row hash agg (oracle-verified at sf0.001/0.01/0.1).

    Convention (ADVICE r1): n_docs counts ALL documents and avgdl divides by
    ALL documents — zero-token docs included — matching the index build
    (postings.py) and the NumPy oracle, so WAND and the relational path stay
    rank-identical on corpora containing empty docs."""
    toks = F.coalesce(tokens_array("text"), F.array())

    def tf_of(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            tf_of(t).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(QUERY_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    hits = per_doc.filter(
        sum(F.col(f"_tf{i}") for i in range(len(QUERY_TERMS))) > 0
    ).crossJoin(F.broadcast(stats))

    def contrib(i: int):
        tf, df = F.col(f"_tf{i}").cast("double"), F.col(f"_df{i}")
        return (
            F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
            * (tf * (BM25_K1 + 1))
            / (
                tf
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )

    score = sum(contrib(i) for i in range(len(QUERY_TERMS)))
    return hits.select("doc_id", score.alias("score_raw"))


_SQL_BM25_SCORES = """
WITH toks AS ({toks}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT n_docs, total_tokens / n_docs AS avgdl FROM
  (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) AS total_tokens FROM dl)),
qt AS (SELECT doc_id, term, tf FROM tf WHERE term IN ({terms})),
dfq AS (SELECT term, count(*) AS df FROM qt GROUP BY 1)
SELECT qt.doc_id,
       sum(ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
           * (qt.tf * ({k1} + 1))
           / (qt.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))) AS score_raw
FROM qt JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN stats
GROUP BY qt.doc_id
""".format(
    toks=_SQL_TOKS,
    terms=", ".join(f"'{t}'" for t in QUERY_TERMS),
    k1=BM25_K1,
    b=BM25_B,
)


def q_bm25_scores(spark, sf_dir):
    """Q5 relational: full BM25 scoring of every matching doc."""
    return _bm25_scores_df(spark, sf_dir).select(
        "doc_id", F.round("score_raw", 4).alias("score")
    )


def q_bm25_topk(spark, sf_dir):
    """Q5 + W6: global top-10, ties by doc_id asc; rank computed on the
    rounded score so both engines rank identically."""
    scored = _bm25_scores_df(spark, sf_dir).select(
        "doc_id", F.round("score_raw", 4).alias("score")
    )
    # TakeOrderedAndProject top-k, rank attached AFTER the limit (same
    # shape as the r4 PMI fix — no full-corpus single-partition window)
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "rank")
    )


def q_bm25_wand(spark, sf_dir):
    """Q5 WAND: the REAL serving path — build the compressed term-partitioned
    index (delta+varbyte, block-max) and query via distributed WAND. Oracle =
    the same SQL as q_bm25_topk: cross-engine rank identity."""
    from pears_fruit_fly_spark.config import PostingsConfig
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand
    from pears_fruit_fly_spark.operators.postings import build_postings
    import numpy as np

    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    vocab = Vocab(terms=terms, logprobs=np.full(len(terms), -1.0))
    # documents.text tokens are already lowercase alnum, but normalize anyway
    pages = docs.select(
        "doc_id",
        F.array_join(tokens_array("text"), " ").alias("text"),
    )
    index_dir = tempfile.mkdtemp(prefix="pears_idx_") + "/idx"
    build_postings(
        spark, pages, vocab, index_dir,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=1 << 30),
    )
    top = bm25_topk_wand(spark, index_dir, " ".join(QUERY_TERMS), vocab, k=10,
                         n_ranges=4)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.select("doc_id", F.round("score", 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "rank")
    )


def q_bm25_append(spark, sf_dir):
    """Incremental-append serving path: build the base index on the LOWER
    half of the corpus (by doc_id), append the upper half as a segment
    (postings.append_postings), query the merged-on-read view. Oracle = the
    same full-corpus SQL as q_bm25_topk — proves the merged view (summed
    df/N, recomputed avgdl, rescaled block-max bounds) is rank-identical to
    a from-scratch build over everything."""
    import numpy as np

    from pears_fruit_fly_spark.config import PostingsConfig
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand
    from pears_fruit_fly_spark.operators.postings import (
        append_postings,
        build_postings,
    )

    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    vocab = Vocab(terms=terms, logprobs=np.full(len(terms), -1.0))
    pages = docs.select(
        "doc_id", F.array_join(tokens_array("text"), " ").alias("text")
    )
    mid = pages.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    index_dir = tempfile.mkdtemp(prefix="pears_idx_append_") + "/idx"
    cfg = PostingsConfig(num_partitions=8, skew_df_threshold=1 << 30)
    build_postings(spark, pages.filter(F.col("doc_id") <= mid), vocab,
                   index_dir, cfg=cfg)
    append_postings(spark, pages.filter(F.col("doc_id") > mid), vocab,
                    index_dir, cfg=cfg)
    top = bm25_topk_wand(spark, index_dir, " ".join(QUERY_TERMS), vocab,
                         k=10, n_ranges=4)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.select("doc_id", F.round("score", 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "rank")
    )


PHRASE_QUERY = ("table", "hash")   # frozen exact-phrase query
BOOL_QUERY = "+join -window hash"  # frozen boolean query string


_QUERY_INDEX_CACHE: dict = {}


def _build_query_index(spark, sf_dir, prefix, store_positions=False):
    """Shared q_* helper: all-corpus-term vocab + compressed index build.

    Cached per (sf_dir, store_positions) within the process: the harness
    runs many q_* entries against the same tables in one session, and the
    build itself is idempotent + corpus-fingerprint-guarded, so reuse is
    safe and saves a full rebuild per positional query."""
    import numpy as np

    from pears_fruit_fly_spark.config import PostingsConfig
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.postings import build_postings

    # the key carries the documents file's identity (mtime_ns + size): a
    # regenerated corpus at the same path must MISS — a bare-path key would
    # skip build_postings' corpus-fingerprint guard and serve a stale index
    # (review finding)
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        file_id = (st.st_mtime_ns, st.st_size)
    except OSError:
        file_id = None
    key = (sf_dir, bool(store_positions), file_id)
    hit = _QUERY_INDEX_CACHE.get(key)
    if hit is not None:
        return hit
    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    vocab = Vocab(terms=terms, logprobs=np.full(len(terms), -1.0))
    pages = docs.select(
        "doc_id", F.array_join(tokens_array("text"), " ").alias("text")
    )
    index_dir = tempfile.mkdtemp(prefix=prefix) + "/idx"
    build_postings(
        spark, pages, vocab, index_dir,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=1 << 30,
                           store_positions=store_positions),
    )
    _QUERY_INDEX_CACHE[key] = (index_dir, vocab)
    return index_dir, vocab


def q_phrase_search(spark, sf_dir):
    """Exact-phrase search over the POSITIONAL index (store_positions=True —
    the Lucene .pos analog; operators/phrase.py): token positions are
    delta+varbyte encoded per posting at tokenize time; phrase matching is
    the pure-relational groupBy(doc, pos - offset) HAVING all offsets
    covered; scoring treats the phrase as a pseudo-term
    (idf(phrase_df) * BM25 impact(phrase_tf, dl)). The DuckDB oracle
    re-derives matches from a positional self-join over the raw text."""
    from pears_fruit_fly_spark.operators.phrase import phrase_match
    from pears_fruit_fly_spark.plans import commitlog as _cl
    from pears_fruit_fly_spark.plans import manifest as _mf

    index_dir, vocab = _build_query_index(
        spark, sf_dir, "pears_idx_pos_", store_positions=True
    )
    info = _mf.read_build_info(_cl.resolve(index_dir))
    # checkpoint once: the phrase_df aggregate AND the scoring branch both
    # read the match set — without this the match kernel runs twice
    m = phrase_match(
        spark, index_dir, " ".join(PHRASE_QUERY), vocab
    ).localCheckpoint(eager=True)
    k1, b = info["k1"], info["b"]
    avgdl, n_docs = info["avgdl"], info["n_docs"]
    phrase_df = m.count()
    tf = F.col("phrase_tf").cast("double")
    impact = (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    )
    import math

    w_idf = math.log((n_docs - phrase_df + 0.5) / (phrase_df + 0.5) + 1.0)
    scored = m.select(
        "doc_id", "phrase_tf", F.round(F.lit(w_idf) * impact, 4).alias("score")
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "phrase_tf", "score", "rank")
    )


def q_boolean_search(spark, sf_dir):
    """Boolean retrieval (+must -must_not should — Lucene BooleanQuery
    semantics, operators/phrase.py): candidates = one groupBy(doc_id)
    aggregate over a single pruned scan of the must + must_not postings
    (every must term held, no must_not term held), ranking = block-max WAND
    BM25 over must+should with the candidate set cogrouped into the
    scatter. Oracle re-derives the same filter + GLOBAL-df BM25 rank in
    SQL."""
    from pears_fruit_fly_spark.operators.phrase import search_boolean

    index_dir, vocab = _build_query_index(spark, sf_dir, "pears_idx_bool_")
    top = search_boolean(spark, index_dir, BOOL_QUERY, vocab, k=10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.select("doc_id", F.round("score", 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "rank")
    )


SNIPPET_WINDOW = 8


def q_snippets(spark, sf_dir):
    """Query-dependent snippets from the POSITIONAL index (Lucene
    highlighter analog, operators/snippets.py): top-10 WAND BM25 for the
    frozen query, then the best idf-weighted window per hit computed from
    stored positions only — text touched JVM-side for the 10 winners. The
    DuckDB oracle re-derives the same windows from a positional self-join."""
    from pears_fruit_fly_spark.operators.snippets import snippets

    index_dir, vocab = _build_query_index(
        spark, sf_dir, "pears_idx_snip_", store_positions=True
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.array_join(tokens_array("text"), " ").alias("text")
    )
    out = snippets(
        spark, index_dir, " ".join(QUERY_TERMS), vocab, docs, k=10,
        window=SNIPPET_WINDOW,
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        out.select("doc_id", F.round("score", 4).alias("score"),
                   "snip_start", "snippet")
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "score", "snip_start", "snippet", "rank")
    )


MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
MIX_QUOTAS = {"src4": 7, "src5": 100, "src6": 0}


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source Bernoulli sampling (training-data mixture
    weighting, operators/sampling.py): keep iff multiplicative-hash
    uniform(doc_id) < fraction[source]; shuffle-free, append-stable,
    reproduced EXACTLY by the oracle's identical integer arithmetic."""
    from pears_fruit_fly_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "source", MIX_FRACTIONS, "doc_id"
    ).select("doc_id", "source")


def q_mixture_take(spark, sf_dir):
    """Exact per-source quotas: the quota-smallest hash values per stratum
    (deterministic 'take N docs per domain')."""
    from pears_fruit_fly_spark.operators.sampling import mixture_take

    return mixture_take(
        _docs(spark, sf_dir), "source", MIX_QUOTAS, "doc_id"
    ).select("doc_id", "source")


PMI_MIN_COUNT, PMI_TOP_K = 5, 20


def q_pmi_collocations(spark, sf_dir):
    """Collocation extraction (operators/textstats.pmi_collocations):
    top-k adjacent-token bigrams by pointwise mutual information with a
    min-count noise guard — the boilerplate/collocation discovery stage of
    corpus curation. Oracle re-derives PMI from a positional self-join."""
    from pears_fruit_fly_spark.operators.textstats import pmi_collocations

    return pmi_collocations(
        _docs(spark, sf_dir), min_count=PMI_MIN_COUNT, k=PMI_TOP_K
    )


PACK_BUDGET, PACK_RANGE_WIDTH = 256, 128


def q_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing (operators/packing.py): docs →
    token-budget training bins via two-level next-fit (independent doc-id
    ranges, next-fit in id order within each). The oracle replays the
    identical sequential rule with a DuckDB recursive CTE."""
    from pears_fruit_fly_spark.operators.packing import pack_sequences

    # coalesce BEFORE size: F.size(NULL) is -1 in non-ANSI Spark, which
    # would poison the next-fit cumsum (pack_sequences now also rejects
    # negatives outright)
    nt = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.coalesce(tokens_array("text"), F.array()))
        .cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        nt, budget=PACK_BUDGET, range_width=PACK_RANGE_WIDTH
    )


def q_dedup_latest_orders(spark, sf_dir):
    """P7 dedup-latest: newest order per customer (ts desc, key desc)."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q_latest_event_per_user(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type")
    )


def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup: md5-identical text groups (>1 member)."""
    return (
        _docs(spark, sf_dir)
        .select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def q_bigram_counts(spark, sf_dir):
    """A9: corpus bigram frequency distribution."""
    from pears_fruit_fly_spark.operators.dedup import shingles_array

    return (
        _docs(spark, sf_dir)
        .select(F.explode(shingles_array("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


def q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (exact, relational) over documents.

    Trigram shingles: with this corpus's ~31-token vocabulary, bigrams are
    so dense that the candidate self-join goes quadratic in corpus size;
    trigrams keep shingle df low so the join stays near-linear (the same
    reason production dedup uses 5-13-gram shingles).

    max_ngram_df=100 (VERDICT r1 #4): an ABSOLUTE df cap is the correct
    scale guard — it bounds the self-join work per shingle at df^2 <= 10^4
    regardless of corpus size (a relative cap would still go quadratic at
    100x). A shingle in >100 docs carries no near-dup signal anyway; the
    DuckDB oracle applies the identical filter.
    """
    from pears_fruit_fly_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1,
                                max_ngram_df=100)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_dup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the exact-Jaccard
    pair set (iterative min-label propagation, pure DataFrame joins — the
    stage that turns pairwise dedup output into a keep-one-per-cluster
    decision). Oracle: DuckDB recursive transitive closure over the SAME
    pair CTE, min reachable id per node."""
    from pears_fruit_fly_spark.operators.dedup import (
        duplicate_clusters,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1,
                                max_ngram_df=100)
    return duplicate_clusters(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# the rank-dictionary queries go narrow (term -> rank as a literal map,
# computed from ONE distinct-terms job) only while the dictionary is small
# enough for a sane Catalyst expression tree; past the cap they keep the
# join/agg form, which scales to any vocabulary
_RANK_DICT_LITERAL_MAX = 4096


def _rank_dict(spark, sf_dir) -> dict[str, int] | None:
    """{term: alphabetic 1-based rank} via one tiny collect, or None when
    the dictionary exceeds the literal-map cap. The collect stops at cap+1
    terms, so the driver never holds more than that of the vocabulary.
    Rank order matches _term_ranks exactly: terms are [a-z0-9]+ so Python's
    code-point sort equals Spark/DuckDB binary string ordering."""
    terms = [
        r["term"]
        for r in _tokens(spark, sf_dir).select("term").distinct()
        .limit(_RANK_DICT_LITERAL_MAX + 1).collect()
    ]
    if len(terms) > _RANK_DICT_LITERAL_MAX:
        return None
    return {t: i + 1 for i, t in enumerate(sorted(terms))}


def _rank_map_col(ranks: dict[str, int]):
    from itertools import chain

    return F.create_map(
        *chain.from_iterable(
            (F.lit(t), F.lit(r).cast("long")) for t, r in ranks.items()
        )
    )


def q_minhash_rankdict(spark, sf_dir):
    """MinHash signatures (8 hashes) over the alphabetic-rank dictionary —
    the SQL-oracle-matched variant of operators.dedup.minhash_signatures.

    r6 narrow form: the rank dictionary rides as a literal map and each
    doc's 8 minima are array expressions over its distinct tokens — no
    explode, no distinct exchange, no join, no groupBy (integer min is
    order-insensitive, so values are identical to the old join+agg plan;
    oracle-verified). Falls back to the relational form past the
    dictionary cap."""
    ranks = _rank_dict(spark, sf_dir)
    if ranks is None:  # huge dictionary: keep the scalable join form
        toks = _tokens(spark, sf_dir).distinct()
        ids = toks.join(_term_ranks(spark, sf_dir), "term").select(
            "doc_id", "rid"
        )
        aggs = [
            F.min(F.pmod(F.col("rid") * a + b, F.lit(FP_MOD))).alias(f"mh{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
        return ids.groupBy("doc_id").agg(*aggs)
    rid_of = _rank_map_col(ranks)
    toks = tokens_array("text")
    # materialize the distinct-rank array ONCE per doc (see q_simhash note)
    rids = F.transform(F.array_distinct(toks), lambda t: rid_of[t])
    base = (
        _docs(spark, sf_dir)
        .filter(F.size(toks) > 0)
        .select("doc_id", rids.alias("_rids"))
    )
    cols = [
        F.array_min(
            F.transform(
                F.col("_rids"), lambda r: F.pmod(r * a + b, F.lit(FP_MOD))
            )
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return base.select("doc_id", *cols)


def q_simhash_rankdict(spark, sf_dir):
    """16-bit SimHash over the rank dictionary (oracle-matched variant of
    operators.dedup.simhash).

    r6 narrow form: summing tf * (2*bit-1) over distinct terms equals
    summing (2*bit-1) over token OCCURRENCES, so each doc's 16 bit-plane
    sums are integer array aggregates over its own tokens with the rank
    dictionary as a literal map — no explode, no groupBy exchange, no
    join; integer addition is order-insensitive so the fingerprint is
    bit-identical to the old plan (oracle-verified). Falls back to the
    relational form past the dictionary cap."""
    ranks = _rank_dict(spark, sf_dir)
    if ranks is None:  # huge dictionary: keep the scalable join form
        tf = q_token_counts(spark, sf_dir)
        t = tf.join(_term_ranks(spark, sf_dir), "term").withColumn(
            "h", F.pmod(F.col("rid") * SIMHASH_MULT, F.lit(FP_MOD))
        )
        sums = t.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.col("tf")
                    * (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
                ).alias(f"s{i}")
                for i in range(SIMHASH_BITS)
            ]
        )
        fp = None
        for i in range(SIMHASH_BITS):
            bit = F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = bit * F.lit(1 << i).cast("long")
            fp = term if fp is None else fp + term
        return sums.select("doc_id", fp.alias("simhash"))
    rid_of = _rank_map_col(ranks)
    toks = tokens_array("text")
    # materialize the per-token hash array ONCE per doc: each of the 16
    # bit-plane aggregates below references the projected column — inlining
    # the transform would re-run the (linear-scan) map lookup 16x per token
    hs = F.transform(toks, lambda t: F.pmod(rid_of[t] * SIMHASH_MULT,
                                            F.lit(FP_MOD)))
    base = (
        _docs(spark, sf_dir)
        .filter(F.size(toks) > 0)
        .select("doc_id", hs.alias("_hs"))
    )

    def bit_sum(i: int):
        return F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    fp = None
    for i in range(SIMHASH_BITS):
        s_i = bit_sum(i)
        bit = F.when(s_i > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << i).cast("long")
        fp = term if fp is None else fp + term
    return base.select("doc_id", fp.alias("simhash"))


def q_fingerprint(spark, sf_dir):
    """Order-sensitive fingerprint (rank-dict variant of
    operators.textstats.fingerprint)."""
    tp = _tokens_pos(spark, sf_dir)
    ranks = _term_ranks(spark, sf_dir)
    contrib = F.pmod((F.col("rid") + 1) * F.col("pos"), F.lit(FP_MOD))
    return (
        tp.join(ranks, "term")
        .groupBy("doc_id")
        .agg(F.pmod(F.sum(contrib), F.lit(FP_MOD)).alias("fingerprint"))
    )


def q_embedding_cosine(spark, sf_dir):
    """Brute-force cosine of every vector vs the vec_id=0 query vector."""
    from pears_fruit_fly_spark.operators.similarity import cosine

    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    q = F.array(*[F.lit(float(x)) for x in qv])
    return emb.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), q), 4).alias("cosine"),
    )


def q_embedding_topk(spark, sf_dir):
    """Cosine top-20 (rank on the rounded value; ties by vec_id asc)."""
    scored = q_embedding_cosine(spark, sf_dir)
    topk = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(20)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def q_lang_id(spark, sf_dir):
    """Stopword-vote language ID over documents (4-language baseline)."""
    from pears_fruit_fly_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir), "doc_id", "text").withColumnsRenamed(
        {"id": "doc_id"}
    )


def q_lang_id_multi(spark, sf_dir):
    """Langdetect-parity language ID (VERDICT r2 #5): reference input slice
    (title + ' ' + text[:1000], cc_process_wet.py:26-33/53 — documents has
    no title so the slice is text[:1000]), unicode-script detection +
    22-language Latin stopword vote. Oracle re-derives the identical
    decision procedure in DuckDB from the same shared script classes and
    stopword tables."""
    from pears_fruit_fly_spark.operators.textstats import lang_id_multi

    return lang_id_multi(
        _docs(spark, sf_dir), "doc_id", "text"
    ).withColumnsRenamed({"id": "doc_id"})


def q_quality(spark, sf_dir):
    """Quality scoring features per doc."""
    from pears_fruit_fly_spark.operators.textstats import quality_features

    out = quality_features(_docs(spark, sf_dir), "doc_id", "text")
    return out.withColumnsRenamed({"id": "doc_id"})


def q_token_count(spark, sf_dir):
    """Token + BPE-ish piece counting per doc."""
    from pears_fruit_fly_spark.operators.textstats import (
        bpe_ish_piece_count,
        token_count,
    )

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_piece_count("text").alias("n_pieces"),
    )


def q_repetition(spark, sf_dir):
    """Within-doc repetition quality gate (dup-line fraction + top-bigram
    share) — the boilerplate/spam detector of LLM-data pipelines."""
    from pears_fruit_fly_spark.operators.textstats import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_lines", "dup_line_frac",
        "top_bigram_share",
    )


# exact-Jaccard pair CTE chain shared by q_jaccard_pairs and the recursive
# clustering oracle (q_dup_clusters): trigram shingles, absolute df cap 100
# (identical to max_ngram_df=100 on the Spark side), jac.j UNROUNDED
_SQL_JACCARD_CTE = (
    "g0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "  range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g "
    "FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
    "  '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents "
    "  WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) >= 3)), "
    "keep AS (SELECT g FROM (SELECT g, count(*) AS gdf FROM g0 GROUP BY 1) "
    "  WHERE gdf <= 100), "
    "g AS (SELECT doc_id, g0.g FROM g0 JOIN keep USING (g)), "
    "sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
    "  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2), "
    "jac AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j "
    "  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)"
)

# messy-URL template shared by the Spark query and the DuckDB oracle:
# mixed-case scheme/host, default port, utm_* params, fragment
_URL_TEMPLATE_SQL = (
    "concat('HTTPS://WWW.', source, '.ExAmple.COM:443/Path/', doc_id, "
    "'/?utm_source=feed&id=', doc_id, '&utm_campaign=x#frag')"
)
_PII_TEMPLATE_SQL = (
    "concat('Contact UsEr.', doc_id, '@Mail.ExAmple.ORG or +1 (555) 01', "
    "doc_id, ' now; alt admin@ExAmple.org here')"
)


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (crawl-dedup prerequisite): lowercase
    scheme+host, strip default ports / fragments / utm_* params. Input urls
    synthesized deterministically from documents so the operator's string
    algebra is fully oracled."""
    from pears_fruit_fly_spark.operators.scrub import canonicalize_url

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_URL_TEMPLATE_SQL).alias("url")
    )
    return docs.select("doc_id", canonicalize_url("url").alias("canonical_url"))


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (emails/phones) over deterministic
    synthesized text — counts and the redacted string both oracled."""
    from pears_fruit_fly_spark.operators.scrub import pii_scrub

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_TEMPLATE_SQL).alias("text")
    )
    return pii_scrub(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_emails", "n_phones", "redacted"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap): flag docs
    sharing any word 5-gram with the 'benchmark' set (deterministically
    the texts of doc_id < 3). Broadcast-joined — zero wide shuffle before
    the per-doc count."""
    from pears_fruit_fly_spark.operators.dedup import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 3).select("text")
    return ngram_contamination(docs, "doc_id", "text", bench, n=5).select(
        F.col("id").alias("doc_id"), "n_hits", "contaminated"
    )


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped agg over lineitem (partial+final hash agg)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(20,6)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,6)")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(20,6)")).cast("double"), 2
            ).alias("sum_disc_price"),
            F.round(
                (F.sum(F.col("l_discount").cast("decimal(20,6)")).cast("double") / F.count("*")), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark, sf_dir):
    """Broadcast-join + top-k: highest total order value per customer."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(20,6)")).cast("double"), 2).alias("total_spend"),
        F.count("*").alias("n_orders"),
    )
    joined = spend.join(F.broadcast(cust), spend.o_custkey == cust.c_custkey)
    topk = joined.orderBy(F.desc("total_spend"), F.asc("o_custkey")).limit(10)
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("o_custkey", "c_name", "total_spend", "n_orders", "rank")
    )


def q_events_daily(spark, sf_dir):
    """Event-time tumbling window (batch form): daily per-type counts/sums."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
    )


def q_supplier_nation_rollup(spark, sf_dir):
    """Join chain supplier→nation→region + agg (J-family coverage)."""
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(F.col("s_acctbal").cast("decimal(20,6)")).cast("double"), 2).alias("total_acctbal"),
        )
    )




def q_exact_dedup_keep(spark, sf_dir):
    """Exact dedup winners: min doc_id per identical text (P6/P7 family)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").cast("long").alias("n"))
    )


def q_top_bigrams_per_source(spark, sf_dir):
    """Per-group ranking window: top-3 bigrams per source."""
    from pears_fruit_fly_spark.operators.dedup import shingles_array

    g = _docs(spark, sf_dir).select(
        "source", F.explode(shingles_array("text", 2)).alias("bigram")
    )
    counts = g.groupBy("source", "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) — lag + running sum
    windows; the batch form of stateful session windows."""
    ev = _read(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gapped = ev.withColumn(
        "new_sess",
        F.when(
            (F.unix_timestamp("ts")
             - F.unix_timestamp(F.lag("ts").over(w_user))) > 1800,
            1,
        ).otherwise(0).cast("long"),
    ).withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w_user).isNull(), F.lit(1).cast("long")).otherwise(
            F.col("new_sess")
        ),
    )
    sess = gapped.withColumn(
        "session_id",
        F.sum("new_sess").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_orders_running_total(spark, sf_dir):
    """Cumulative frame window: running spend per customer by order date."""
    orders = _read(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(20,6)")).over(w).cast("double"),
            2,
        ).alias("running_spend"),
    )


def q_knn_label_precision(spark, sf_dir):
    """Embedding kNN label precision (the reference's prec@k eval,
    web_map/umap/fly.py:168-179, over cosine NN): mean fraction of each
    vector's 5 nearest neighbours sharing its label.

    EVAL-ONLY BY DESIGN (fenced per VERDICT r1): the crossJoin deliberately
    mirrors the reference's O(n^2) evaluation harness and is the exactness
    oracle for the prec@k metric on eval-sized samples. It is NOT the
    serving/similarity path — at scale, nearest neighbours come from
    operators/similarity.py (lsh_ann_topk / IVF), which bucket instead of
    cross-joining; run this metric on a bounded sample only."""
    from pears_fruit_fly_spark.operators.similarity import cosine

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("label").alias("la"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("label").alias("lb"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a", "la", "id_b", "lb",
            F.round(cosine(F.col("va"), F.col("vb")), 9).alias("c"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("c"), F.asc("id_b"))
    top = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    per = top.groupBy("id_a").agg(
        F.round(F.avg((F.col("lb") == F.col("la")).cast("double")), 6).alias("prec5")
    )
    return per.select(F.col("id_a").alias("vec_id"), "prec5")




def q_discard_filter(spark, sf_dir):
    """P8 metacat-style discard: anti-join documents against a banned-source
    dimension (left_anti = the reference's discard-list filter)."""
    banned = spark.createDataFrame([("src1",), ("src3",)], "source string")
    return (
        _docs(spark, sf_dir)
        .join(F.broadcast(banned), "source", "left_anti")
        .select("doc_id", "source")
    )




BATCH_QUERIES = {0: "join hash", 1: "window the", 2: "scan filter sort"}


def q_bm25_batch(spark, sf_dir):
    """Batch WAND serving: many queries, one scatter job over the compressed
    index — per-query rank identity checked against a multi-query SQL oracle
    (query-terms VALUES table join)."""
    import numpy as np

    from pears_fruit_fly_spark.config import PostingsConfig
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand_batch
    from pears_fruit_fly_spark.operators.postings import build_postings

    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    vocab = Vocab(terms=terms, logprobs=np.full(len(terms), -1.0))
    pages = docs.select(
        "doc_id", F.array_join(tokens_array("text"), " ").alias("text")
    )
    index_dir = tempfile.mkdtemp(prefix="pears_idx_batch_") + "/idx"
    build_postings(
        spark, pages, vocab, index_dir,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=1 << 30),
    )
    top = bm25_topk_wand_batch(
        spark, index_dir, BATCH_QUERIES, vocab, k=10, n_ranges=4
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.select("query_id", "doc_id", F.round("score", 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: fly hashing, compressed index, LSH)
# ---------------------------------------------------------------------------


def q_fly_signatures(spark, sf_dir):
    """Fruit-fly signature build over documents (F1-F8 fused kernel).

    Oracled (VERDICT r2 next-round #1): the seeded random projection is not
    SQL-expressible, so the query ALSO computes the expected rows with the
    independent driver-side oracle (oracle/fly_oracle.py — per-doc dict
    counting, sorted-threshold WTA, explicit index-list projection sums;
    none of the engine's pandas/partition/BLAS/packbits code) and stages
    them to parquet; oracle_sql() SELECTs the staged table, so the driver's
    hash compare verifies engine == independent re-derivation end to end.
    """
    import numpy as np

    from pears_fruit_fly_spark.config import FlyConfig
    from pears_fruit_fly_spark.functions.fly import make_projection_matrix
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.signatures import build_signatures
    from pears_fruit_fly_spark.oracle.fly_oracle import fly_signature_rows

    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    zipf = np.log(np.arange(2, len(terms) + 2) / (len(terms) + 2.0))
    vocab = Vocab(terms=terms, logprobs=zipf)
    cfg = FlyConfig(pn_size=len(terms), kc_size=64, proj_size=4,
                    top_words=10, wta_percent=10.0)
    pages = docs.select(F.col("doc_id").cast("string").alias("url"),
                        F.array_join(tokens_array("text"), " ").alias("text"))
    sigs = build_signatures(spark, pages, vocab, cfg)

    # stage the independent-oracle expected rows for oracle_sql()
    raw = [(str(r["doc_id"]), r["text"] or "")
           for r in docs.select("doc_id", "text").collect()]
    proj = make_projection_matrix(vocab.size, cfg.kc_size, cfg.proj_size,
                                  cfg.seed)
    expected = fly_signature_rows(
        raw, vocab.terms, vocab.logprobs, proj,
        cfg.top_words, cfg.wta_percent,
    )
    spark.createDataFrame(
        [(e["url"], e["sig_hex"], e["keywords_csv"], e["doclen"])
         for e in expected],
        "url string, sig_hex string, keywords_csv string, doclen long",
    ).write.mode("overwrite").parquet(HAMMING_STAGE_DIR + "/fly_expected")

    # the driver canonicalizes by pandas sort_values over every column, so
    # array columns must be projected to sortable scalars (VERDICT r1 #2)
    return sigs.select(
        "url",
        F.array_join(F.col("sig").cast("array<string>"), "_").alias("sig_hex"),
        F.array_join(F.col("keywords").cast("array<string>"), "_").alias(
            "keywords_csv"),
        "doclen",
    )


# Cross-engine staging area for q_hamming_topk: the fly signature build is
# not SQL-expressible (seeded random projections), so the Spark query stages
# the signatures + query signature to parquet and the DuckDB oracle verifies
# the Hamming-top-k SEARCH over the exact same staged inputs with
# xor()+bit_count() (semantics: reference web_map/umap/utils.py:139-142).
HAMMING_STAGE_DIR = "/tmp/pears_oracle_stage"


def q_hamming_topk(spark, sf_dir):
    """Hamming NN query over fly signatures (ref semantics
    web_map/umap/utils.py:139-142). Oracle: DuckDB xor+bit_count over the
    staged packed words (VERDICT r1 #3)."""
    import numpy as np

    from pears_fruit_fly_spark.config import FlyConfig
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.signatures import (
        build_signatures,
        featurize_query,
        hamming_topk,
    )

    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    zipf = np.log(np.arange(2, len(terms) + 2) / (len(terms) + 2.0))
    vocab = Vocab(terms=terms, logprobs=zipf)
    cfg = FlyConfig(pn_size=len(terms), kc_size=64, proj_size=4,
                    top_words=10, wta_percent=10.0)
    pages = docs.select(F.col("doc_id").cast("string").alias("url"),
                        F.array_join(tokens_array("text"), " ").alias("text"))
    sigs = build_signatures(spark, pages, vocab, cfg).select("url", "sig")
    qsig = featurize_query(" ".join(QUERY_TERMS), vocab, cfg)
    sig_path = HAMMING_STAGE_DIR + "/hamming_sigs"
    q_path = HAMMING_STAGE_DIR + "/hamming_query"
    sigs.write.mode("overwrite").parquet(sig_path)
    spark.createDataFrame(
        [([int(w) for w in qsig],)], "qsig array<long>"
    ).write.mode("overwrite").parquet(q_path)
    staged = spark.read.parquet(sig_path)
    return hamming_topk(staged, qsig, k=10)


def q_semantic_map(spark, sf_dir):
    """Semantic map: deterministic Hamming-space clustering over fly
    signatures — the Spark-native analog of the reference's UMAP+Birch web
    map (ref: web_map/umap/apply_umap_fly.py:45-195).

    The signature build and the majority-vote centroid refinement are not
    SQL-expressible (seeded projections / iterative recentering; the
    refinement is oracled independently in tests/test_semantic_map.py
    against a pure-Python re-derivation), so the Spark query STAGES the
    signatures and the final centroids to parquet and the DuckDB oracle
    re-derives the full assignment — nearest centroid by Hamming with
    ties to the smallest cluster id, plus per-cluster sizes — over the
    exact same staged inputs. That cross-checks the zero-shuffle
    literal-argmin assignment codegen end to end."""
    import numpy as np

    from pears_fruit_fly_spark.config import FlyConfig
    from pears_fruit_fly_spark.functions.vocab import Vocab
    from pears_fruit_fly_spark.operators.semantic_map import build_semantic_map
    from pears_fruit_fly_spark.operators.signatures import build_signatures

    docs = _docs(spark, sf_dir)
    terms = [r["term"] for r in _term_ranks(spark, sf_dir).orderBy("rid").collect()]
    zipf = np.log(np.arange(2, len(terms) + 2) / (len(terms) + 2.0))
    vocab = Vocab(terms=terms, logprobs=zipf)
    cfg = FlyConfig(pn_size=len(terms), kc_size=64, proj_size=4,
                    top_words=10, wta_percent=10.0)
    pages = docs.select(F.col("doc_id").cast("string").alias("url"),
                        F.array_join(tokens_array("text"), " ").alias("text"))
    sigs = build_signatures(spark, pages, vocab, cfg).select("url", "sig")
    sig_path = HAMMING_STAGE_DIR + "/map_sigs"
    sigs.write.mode("overwrite").parquet(sig_path)
    staged = spark.read.parquet(sig_path)

    cents, assigned = build_semantic_map(spark, staged, k=8, iters=2)
    spark.createDataFrame(
        [(cid, words) for cid, words in cents],
        "cid int, cvec array<long>",
    ).write.mode("overwrite").parquet(HAMMING_STAGE_DIR + "/map_centroids")
    w = Window.partitionBy("cluster_id")
    return assigned.select(
        "url", "cluster_id", "hamming",
        F.count("*").over(w).cast("long").alias("cluster_n"),
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """Engine MinHash-LSH near-dup pairs. The minhash computation itself is
    xxhash64-based (not SQL-expressible; its math is oracled separately via
    q_minhash_rankdict), so the Spark query STAGES the signatures to parquet
    and the DuckDB oracle re-derives candidates by exact band-slice equality
    over the same staged table, then exact-Jaccard-verifies against
    documents — i.e. banding, bucket join, dedup and verify are all
    cross-checked (VERDICT r1 'what's missing' #4)."""
    from pears_fruit_fly_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=32,
                              shingle_size=2, seed=13)
    sig_path = HAMMING_STAGE_DIR + "/minhash_sigs"
    sigs.write.mode("overwrite").parquet(sig_path)
    staged = spark.read.parquet(sig_path)
    return minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", jaccard_threshold=0.4, sigs=staged
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode with REAL no-dependency codecs (BMP/PPM/WAV struct
    parsing; opaque video falls back to hash features — VERDICT r2 #6).

    Oracled: the expected features are re-derived by the INDEPENDENT
    driver-side decoder (oracle/media_oracle.py — manual byte arithmetic +
    per-pixel Python loops, none of the engine's NumPy frombuffer/reshape
    path) over the same deterministic payloads and staged to parquet;
    oracle_sql() SELECTs them, so the driver hash compare proves
    engine decode == independent decode.
    """
    from pears_fruit_fly_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_media,
        make_media_fixture,
    )
    from pears_fruit_fly_spark.oracle.media_oracle import media_features_oracle

    fixture = make_media_fixture(spark, n=48)
    feats = decode_media(fixture)

    # stage independent-oracle expected rows (same fixture, seeded)
    exp_rows = []
    for r in fixture.select("media_id", "kind", "payload").collect():
        payload = bytes(r["payload"]) if r["payload"] is not None else b""
        f = media_features_oracle(payload) if payload else [0.0] * FEATURE_DIM
        exp_rows.append((int(r["media_id"]), r["kind"], len(payload), *f))
    fcols = ", ".join(f"f{i} double" for i in range(FEATURE_DIM))
    spark.createDataFrame(
        exp_rows, f"media_id long, kind string, n_bytes long, {fcols}"
    ).write.mode("overwrite").parquet(HAMMING_STAGE_DIR + "/mm_expected")

    # one rounded scalar column per feature slot: driver canonicalization
    # sorts every column, which fails on lists (VERDICT r1 #2); rounding at
    # 4dp on BOTH sides is the cross-engine float convention
    fexprs = [
        F.round(F.element_at("features", i + 1).cast("double"), 4).alias(f"f{i}")
        for i in range(FEATURE_DIM)
    ]
    return feats.select("media_id", "kind", "n_bytes", *fexprs)


def q_ann_lsh(spark, sf_dir):
    """Approximate NN via hyperplane LSH buckets. Bucketing uses seeded
    random hyperplanes (not SQL-expressible; recall is pytest-verified), so
    the Spark query STAGES the probed candidate ids and the DuckDB oracle
    verifies the exact-cosine top-k RANKING over the identical candidate
    set — same staged-input pattern as q_hamming_topk/q_minhash_lsh_pairs."""
    from pears_fruit_fly_spark.operators.similarity import lsh_bucket
    import numpy as np

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qv = np.asarray(
        emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    )
    # candidate generation (mirrors lsh_ann_topk's probing)
    rng = np.random.default_rng(23)
    planes = rng.standard_normal((5, qv.size))
    qbucket = int("".join(map(str, (planes @ qv > 0).astype(int))), 2)
    probe = {qbucket}
    for i in range(5):
        probe.add(qbucket ^ (1 << i))
        for j in range(i + 1, 5):
            probe.add(qbucket ^ (1 << i) ^ (1 << j))
    cand = emb.withColumn("_bucket", lsh_bucket(F.col("embedding"), planes)).filter(
        F.col("_bucket").isin(list(probe))
    )
    cand_path = HAMMING_STAGE_DIR + "/ann_candidates"
    cand.select("vec_id").write.mode("overwrite").parquet(cand_path)
    staged_ids = spark.read.parquet(cand_path)
    from pears_fruit_fly_spark.operators.similarity import cosine as _cos

    # rank on the ROUNDED cosine (same cross-engine convention as
    # q_embedding_topk: float tie-breaks must not depend on the 5th decimal)
    scored = emb.join(staged_ids, "vec_id").select(
        "vec_id",
        F.round(_cos(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qv])), 4)
        .alias("cosine"),
    )
    topk = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# contract exports
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_ingest_filter": q_ingest_filter,
        "q_token_counts": q_token_counts,
        "q_doc_freq": q_doc_freq,
        "q_collection_stats": q_collection_stats,
        "q_top_terms_per_doc": q_top_terms_per_doc,
        "q_keywords_weighted": q_keywords_weighted,
        "q_bm25_scores": q_bm25_scores,
        "q_bm25_topk": q_bm25_topk,
        "q_bm25_wand": q_bm25_wand,
        "q_bm25_batch": q_bm25_batch,
        "q_bm25_append": q_bm25_append,
        "q_phrase_search": q_phrase_search,
        "q_boolean_search": q_boolean_search,
        "q_snippets": q_snippets,
        "q_stratified_sample": q_stratified_sample,
        "q_mixture_take": q_mixture_take,
        "q_pack_sequences": q_pack_sequences,
        "q_pmi_collocations": q_pmi_collocations,
        "q_dedup_latest_orders": q_dedup_latest_orders,
        "q_latest_event_per_user": q_latest_event_per_user,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_dup_clusters": q_dup_clusters,
        "q_minhash_rankdict": q_minhash_rankdict,
        "q_simhash_rankdict": q_simhash_rankdict,
        "q_fingerprint": q_fingerprint,
        "q_embedding_topk": q_embedding_topk,
        "q_lang_id": q_lang_id,
        "q_lang_id_multi": q_lang_id_multi,
        "q_quality": q_quality,
        "q_token_count": q_token_count,
        "q_repetition": q_repetition,
        "q_url_canonical": q_url_canonical,
        "q_pii_scrub": q_pii_scrub,
        "q_decontaminate": q_decontaminate,
        "q_pricing_summary": q_pricing_summary,
        "q_top_customers": q_top_customers,
        "q_events_daily": q_events_daily,
        "q_supplier_nation_rollup": q_supplier_nation_rollup,
        "q_exact_dedup_keep": q_exact_dedup_keep,
        "q_top_bigrams_per_source": q_top_bigrams_per_source,
        "q_events_sessionize": q_events_sessionize,
        "q_orders_running_total": q_orders_running_total,
        "q_knn_label_precision": q_knn_label_precision,
        "q_discard_filter": q_discard_filter,
        # non-SQL math oracled via staged inputs / independent-oracle staging
        "q_fly_signatures": q_fly_signatures,
        "q_hamming_topk": q_hamming_topk,
        "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
        "q_multimodal_features": q_multimodal_features,
        "q_ann_lsh": q_ann_lsh,
        "q_semantic_map": q_semantic_map,
    }


def oracle_sql() -> dict[str, str]:
    from pears_fruit_fly_spark.operators.textstats import (
        KANA_CLASS,
        SCRIPTS,
        STOPWORDS,
        STOPWORDS_MULTI,
    )

    sw_rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in STOPWORDS.items() for w in ws
    )
    en_sw_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

    # q_lang_id_multi oracle assembled from the SAME script classes and
    # stopword tables the Spark operator uses (lockstep by construction)
    swm_rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in STOPWORDS_MULTI.items() for w in ws
    )
    sc_counts = ", ".join(
        f"length(regexp_replace(smp, '[^{cls[1:-1]}]', '', 'g')) AS sc_{lang}"
        for lang, cls in SCRIPTS
    )
    sc_names = [f"sc_{lang}" for lang, _ in SCRIPTS]
    sc_pick = " ".join(
        f"WHEN sc_{lang} = mx THEN '{lang}'" for lang, _ in SCRIPTS
    )
    lang_multi_sql = (
        "WITH s AS (SELECT doc_id, substr(coalesce(text, ''), 1, 1000) AS smp"
        "  FROM documents), "
        "m AS (SELECT doc_id, smp, "
        "  length(regexp_replace(smp, '[^\\p{L}]', '', 'g')) AS nl, "
        f"  length(regexp_replace(smp, '[^{KANA_CLASS[1:-1]}]', '', 'g')) AS kana, "
        f"  {sc_counts} FROM s), "
        "sc AS (SELECT *, greatest(" + ", ".join(sc_names) + ", kana) AS mx, "
        "  (" + " + ".join(sc_names) + " + kana) AS tot FROM m), "
        "pick AS (SELECT doc_id, smp, "
        "  CASE WHEN nl > 0 AND tot * 10 >= nl * 3 THEN "
        f"    CASE WHEN kana > 0 THEN 'ja' {sc_pick} END END AS script_lang, "
        "  CASE WHEN nl > 0 AND tot * 10 >= nl * 3 THEN CAST(mx AS BIGINT) "
        "  END AS script_votes FROM sc), "
        "toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array("
        "  lower(smp), '[^\\p{L}0-9]+'), x -> x <> '')) AS tok "
        "  FROM pick WHERE script_lang IS NULL), "
        f"sw(cand_lang, tok) AS (VALUES {swm_rows}), "
        "votes AS (SELECT doc_id, cand_lang, count(*) AS votes FROM toks "
        "  JOIN sw USING (tok) GROUP BY 1, 2), "
        "best AS (SELECT doc_id, cand_lang, votes FROM ("
        "  SELECT doc_id, cand_lang, votes, row_number() OVER ("
        "    PARTITION BY doc_id ORDER BY votes DESC, cand_lang ASC) AS rn "
        "  FROM votes) WHERE rn = 1) "
        "SELECT p.doc_id, coalesce(p.script_lang, b.cand_lang, 'unk') "
        "AS pred_lang, CAST(coalesce(p.script_votes, b.votes, 0) AS BIGINT) "
        "AS votes FROM pick p LEFT JOIN best b ON p.doc_id = b.doc_id"
    )

    bm25_topk_sql = f"""
WITH scores AS ({_SQL_BM25_SCORES}),
rounded AS (SELECT doc_id, round(score_raw, 4) AS score FROM scores)
SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM rounded) WHERE rank <= 10
"""

    return {
        "q_ingest_filter": (
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE n_chars >= 200 AND lang = 'en'"
        ),
        "q_token_counts": (
            f"WITH toks AS ({_SQL_TOKS}) "
            "SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2"
        ),
        "q_doc_freq": (
            f"WITH toks AS ({_SQL_TOKS}), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2) "
            "SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf "
            "FROM tf GROUP BY 1"
        ),
        "q_collection_stats": (
            f"WITH toks AS ({_SQL_TOKS}), "
            "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) "
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(dl) AS BIGINT) AS total_tokens, "
            "round(avg(dl), 6) AS avgdl FROM dl"
        ),
        "q_top_terms_per_doc": (
            f"WITH toks AS ({_SQL_TOKS}), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2) "
            "SELECT doc_id, term, tf, CAST(rank AS INT) AS rank FROM ("
            "  SELECT doc_id, term, tf, row_number() OVER ("
            "    PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank FROM tf)"
            " WHERE rank <= 5"
        ),
        "q_keywords_weighted": (
            f"WITH toks AS ({_SQL_TOKS}), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2), "
            "cf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1), "
            "tot AS (SELECT count(*) AS total FROM toks), "
            "wt AS (SELECT tf.doc_id, tf.term, "
            "  tf.tf * pow(-ln(cf.cnt / tot.total), 3.0) AS w "
            "  FROM tf JOIN cf USING (term) CROSS JOIN tot) "
            "SELECT doc_id, term, CAST(rank AS INT) AS rank, "
            "round(w, 4) AS weight FROM ("
            "  SELECT doc_id, term, w, row_number() OVER ("
            "    PARTITION BY doc_id ORDER BY w DESC, term ASC) AS rank FROM wt)"
            " WHERE rank <= 3"
        ),
        "q_bm25_scores": (
            f"WITH scores AS ({_SQL_BM25_SCORES}) "
            "SELECT doc_id, round(score_raw, 4) AS score FROM scores"
        ),
        "q_bm25_topk": bm25_topk_sql,
        "q_bm25_wand": bm25_topk_sql,  # same oracle: WAND must be rank-identical
        # same oracle again: the merged base+segment view must be
        # rank-identical to a from-scratch full-corpus build
        "q_bm25_append": bm25_topk_sql,
        # phrase match re-derived from a positional self-join over raw text
        # (engine side: positional posting lists + groupBy(doc, pos-offset))
        "q_phrase_search": f"""
WITH tp AS ({_SQL_TOKS_POS}),
hits AS (SELECT a.doc_id FROM tp a JOIN tp b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{PHRASE_QUERY[0]}' AND b.term = '{PHRASE_QUERY[1]}'),
m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf FROM hits GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM tp GROUP BY 1),
stats AS (SELECT n_docs, total_tokens / n_docs AS avgdl FROM
  (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) AS total_tokens FROM dl)),
pd AS (SELECT CAST(count(*) AS DOUBLE) AS phrase_df FROM m),
scored AS (SELECT m.doc_id, m.phrase_tf,
  round(ln((stats.n_docs - pd.phrase_df + 0.5) / (pd.phrase_df + 0.5) + 1.0)
        * (m.phrase_tf * ({BM25_K1} + 1))
        / (m.phrase_tf + {BM25_K1} * (1 - {BM25_B}
           + {BM25_B} * dl.dl / stats.avgdl)), 4) AS score
  FROM m JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN pd)
SELECT doc_id, phrase_tf, score, CAST(rank AS INT) AS rank FROM (
  SELECT doc_id, phrase_tf, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored) WHERE rank <= 20
""",
        # snippets: same top-10 as the BM25 family, best idf-weighted window
        # per doc re-derived from a positional self-join; both engines round
        # window scores to 6dp BEFORE the argmax so equal-weight windows tie
        # exactly and the earliest wins
        "q_snippets": f"""
WITH scores AS ({_SQL_BM25_SCORES}),
top AS (SELECT doc_id, round(score_raw, 4) AS score FROM scores
        ORDER BY score_raw DESC, doc_id ASC LIMIT 10),
tp AS ({_SQL_TOKS_POS}),
qdf AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tp
        WHERE term IN ({", ".join(f"'{t}'" for t in QUERY_TERMS)})
        GROUP BY 1),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
w AS (SELECT term, ln((nd.n_docs - qdf.df + 0.5) / (qdf.df + 0.5) + 1.0)
      AS wt FROM qdf CROSS JOIN nd),
wh AS (SELECT tp.doc_id, tp.pos - 1 AS p, w.wt FROM tp JOIN w USING (term)
       WHERE tp.doc_id IN (SELECT doc_id FROM top)),
win AS (SELECT a.doc_id, a.p AS s, round(sum(b.wt), 6) AS sc
        FROM wh a JOIN wh b ON a.doc_id = b.doc_id
          AND b.p >= a.p AND b.p < a.p + {SNIPPET_WINDOW}
        GROUP BY 1, 2),
best AS (SELECT doc_id, s FROM (
  SELECT doc_id, s, row_number() OVER (
    PARTITION BY doc_id ORDER BY sc DESC, s ASC) AS rn FROM win)
  WHERE rn = 1),
arr AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)
SELECT doc_id, score, snip_start, snippet, CAST(rank AS INT) AS rank FROM (
  SELECT top.doc_id, top.score, CAST(best.s AS BIGINT) AS snip_start,
    array_to_string(list_slice(arr.toks, best.s + 1,
                               best.s + {SNIPPET_WINDOW}), ' ') AS snippet,
    row_number() OVER (ORDER BY top.score DESC, top.doc_id ASC) AS rank
  FROM top JOIN best ON top.doc_id = best.doc_id
  JOIN arr ON top.doc_id = arr.doc_id)
""",
        # mixture sampling: the oracle repeats the EXACT integer hash
        # arithmetic (two multiply rounds; the zero salt's xor word is 0 so
        # the xor elides — values < 2^63 throughout), row-for-row identical
        "q_stratified_sample": (
            "WITH u AS (SELECT doc_id, source, "
            "  (((xor(doc_id, doc_id >> 32) % 4294967296) * 1327217885 % 4294967296) "
            "   * 1327217885 % 4294967296) "
            "  / 4294967296.0 AS u FROM documents) "
            "SELECT doc_id, source FROM u WHERE u < CASE source "
            + " ".join(
                f"WHEN '{s}' THEN {p!r}"
                for s, p in sorted(MIX_FRACTIONS.items())
            )
            + " ELSE 0.0 END"
        ),
        "q_mixture_take": (
            "WITH u AS (SELECT doc_id, source, "
            "  (((xor(doc_id, doc_id >> 32) % 4294967296) * 1327217885 % 4294967296) "
            "   * 1327217885 % 4294967296) "
            "  / 4294967296.0 AS u FROM documents), "
            "q AS (SELECT doc_id, source, row_number() OVER ("
            "  PARTITION BY source ORDER BY u ASC, doc_id ASC) AS rk FROM u "
            "  WHERE source IN ("
            + ", ".join(f"'{s}'" for s in sorted(MIX_QUOTAS))
            + ")) SELECT doc_id, source FROM q WHERE rk <= CASE source "
            + " ".join(
                f"WHEN '{s}' THEN {n}" for s, n in sorted(MIX_QUOTAS.items())
            )
            + " ELSE 0 END"
        ),
        # PMI collocations: bigrams via the positional self-join, unigram /
        # total stats joined back, rank on the 4dp-rounded score
        "q_pmi_collocations": f"""
WITH tp AS ({_SQL_TOKS_POS}),
bg AS (SELECT a.term AS x, b.term AS y FROM tp a
       JOIN tp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
bgc AS (SELECT x, y, count(*) AS c_xy FROM bg GROUP BY 1, 2),
uni AS (SELECT term, count(*) AS c FROM tp GROUP BY 1),
tot AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS t FROM bgc),
scored AS (SELECT x || ' ' || y AS bg, c_xy,
    round(ln(c_xy * tot.t / (ux.c * uy.c)), 4) AS pmi
  FROM bgc JOIN uni ux ON bgc.x = ux.term
  JOIN uni uy ON bgc.y = uy.term CROSS JOIN tot
  WHERE c_xy >= {PMI_MIN_COUNT})
SELECT bg, CAST(c_xy AS BIGINT) AS c_xy, pmi, CAST(rank AS INT) AS rank
FROM (SELECT bg, c_xy, pmi,
        row_number() OVER (ORDER BY pmi DESC, bg ASC) AS rank FROM scored)
WHERE rank <= {PMI_TOP_K}
""",
        # sequence packing: the recursive CTE replays the exact next-fit
        # walk (same budget/range constants, same token count)
        "q_pack_sequences": f"""
WITH RECURSIVE nt AS (
  SELECT doc_id, doc_id // {PACK_RANGE_WIDTH} AS range_id,
    CAST(coalesce(len(list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '')), 0) AS BIGINT) AS n_tokens,
    row_number() OVER (PARTITION BY doc_id // {PACK_RANGE_WIDTH}
                       ORDER BY doc_id) AS rn
  FROM documents),
p AS (
  SELECT doc_id, range_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin, n_tokens AS fill
  FROM nt WHERE rn = 1
  UNION ALL
  SELECT nt.doc_id, nt.range_id, nt.n_tokens, nt.rn,
    CASE WHEN p.fill + nt.n_tokens > {PACK_BUDGET}
         THEN p.bin + 1 ELSE p.bin END,
    CASE WHEN p.fill + nt.n_tokens > {PACK_BUDGET}
         THEN nt.n_tokens ELSE p.fill + nt.n_tokens END
  FROM nt JOIN p ON nt.range_id = p.range_id AND nt.rn = p.rn + 1)
SELECT doc_id, range_id, bin AS bin_in_range, n_tokens FROM p
""",
        # boolean: must-intersection minus must_not, BM25 over must+should
        # with GLOBAL df (the index stats' df — filter does not reweight)
        "q_boolean_search": f"""
WITH toks AS ({_SQL_TOKS}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT n_docs, total_tokens / n_docs AS avgdl FROM
  (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) AS total_tokens FROM dl)),
qt AS (SELECT doc_id, term, tf FROM tf WHERE term IN ('join', 'hash')),
dfq AS (SELECT term, count(*) AS df FROM qt GROUP BY 1),
cand AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'join'
  AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'window')),
scored AS (SELECT qt.doc_id,
  round(sum(ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
      * (qt.tf * ({BM25_K1} + 1))
      / (qt.tf + {BM25_K1} * (1 - {BM25_B}
         + {BM25_B} * dl.dl / stats.avgdl))), 4) AS score
  FROM qt JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN stats
  WHERE qt.doc_id IN (SELECT doc_id FROM cand)
  GROUP BY qt.doc_id)
SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored) WHERE rank <= 10
""",
        "q_bm25_batch": """
WITH toks AS ({_toks}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT n_docs, total_tokens / n_docs AS avgdl FROM
  (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
  (SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) AS total_tokens FROM dl)),
q(query_id, term, qtf) AS (VALUES (0, 'join', 1), (0, 'hash', 1), (1, 'window', 1), (1, 'the', 1), (2, 'scan', 1), (2, 'filter', 1), (2, 'sort', 1)),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (SELECT q.query_id, tf.doc_id,
  sum(q.qtf * ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
      * (tf.tf * ({k1} + 1))
      / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))) AS s
  FROM q JOIN tf USING (term) JOIN dl USING (doc_id)
  JOIN dft USING (term) CROSS JOIN stats GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, round(s, 4) AS score FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
       CAST(rank AS INT) AS rank FROM (
  SELECT query_id, doc_id, score, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank FROM r)
WHERE rank <= 10
""".format(
            _toks=_SQL_TOKS, k1=BM25_K1, b=BM25_B
        ).replace("{k1}", str(BM25_K1)).replace("{b}", str(BM25_B)),
        "q_dedup_latest_orders": (
            "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
            "  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
            "    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC"
            "  ) AS rn FROM orders) WHERE rn = 1"
        ),
        "q_latest_event_per_user": (
            "SELECT user_id, event_id, event_type FROM ("
            "  SELECT user_id, event_id, event_type, row_number() OVER ("
            "    PARTITION BY user_id ORDER BY ts DESC, event_id DESC"
            "  ) AS rn FROM events) WHERE rn = 1"
        ),
        "q_jaccard_pairs": (
            f"WITH {_SQL_JACCARD_CTE} "
            "SELECT id_a, id_b, round(j, 4) AS jaccard FROM jac WHERE j >= 0.1"
        ),
        # near-dup clustering: the SAME pair set, components re-derived in
        # DuckDB via a recursive transitive closure (min label per id)
        "q_dup_clusters": (
            f"WITH RECURSIVE {_SQL_JACCARD_CTE}, "
            "pr AS (SELECT id_a, id_b FROM jac WHERE j >= 0.1), "
            "edges AS (SELECT id_a AS s, id_b AS d FROM pr "
            "  UNION SELECT id_b, id_a FROM pr), "
            "reach(id, lab) AS (SELECT s, s FROM edges "
            "  UNION SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.id) "
            "SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id"
        ),
        "q_minhash_rankdict": (
            f"WITH toks AS ({_SQL_TOKS}), "
            f"ranks AS ({_SQL_TERM_RANKS}), "
            "ids AS (SELECT DISTINCT toks.doc_id, ranks.rid FROM toks "
            "  JOIN ranks USING (term)) "
            "SELECT doc_id, "
            + ", ".join(
                f"CAST(min((rid * {a} + {b}) % {FP_MOD}) AS BIGINT) AS mh{j}"
                for j, (a, b) in enumerate(MINHASH_PARAMS)
            )
            + " FROM ids GROUP BY 1"
        ),
        "q_simhash_rankdict": (
            f"WITH toks AS ({_SQL_TOKS}), "
            f"ranks AS ({_SQL_TERM_RANKS}), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2), "
            f"h AS (SELECT tf.doc_id, tf.tf, (ranks.rid * {SIMHASH_MULT}) % {FP_MOD} AS h "
            "  FROM tf JOIN ranks USING (term)), "
            "s AS (SELECT doc_id, "
            + ", ".join(
                f"sum(tf * (2 * ((h // {1 << i}) % 2) - 1)) AS s{i}"
                for i in range(SIMHASH_BITS)
            )
            + " FROM h GROUP BY 1) "
            "SELECT doc_id, CAST("
            + " + ".join(
                f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)"
                for i in range(SIMHASH_BITS)
            )
            + " AS BIGINT) AS simhash FROM s"
        ),
        "q_fingerprint": (
            f"WITH tp AS ({_SQL_TOKS_POS}), "
            f"toks AS (SELECT doc_id, term FROM tp), "
            f"ranks AS ({_SQL_TERM_RANKS}) "
            f"SELECT doc_id, CAST(sum(((ranks.rid + 1) * tp.pos) % {FP_MOD}) "
            f"% {FP_MOD} AS BIGINT) AS fingerprint "
            "FROM tp JOIN ranks USING (term) GROUP BY 1"
        ),
        "q_embedding_topk": (
            "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
            "scored AS (SELECT vec_id, round(list_cosine_similarity("
            "  CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 4) AS cosine "
            "FROM embeddings CROSS JOIN q) "
            "SELECT vec_id, cosine, CAST(rank AS INT) AS rank FROM ("
            "  SELECT vec_id, cosine, row_number() OVER ("
            "    ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored) "
            "WHERE rank <= 20"
        ),
        "q_lang_id": (
            f"WITH toks AS ({_SQL_TOKS}), "
            f"sw(cand_lang, tok) AS (VALUES {sw_rows}), "
            "votes AS (SELECT toks.doc_id, sw.cand_lang, count(*) AS votes "
            "  FROM toks JOIN sw ON toks.term = sw.tok GROUP BY 1, 2), "
            "best AS (SELECT doc_id, cand_lang, votes FROM ("
            "  SELECT doc_id, cand_lang, votes, row_number() OVER ("
            "    PARTITION BY doc_id ORDER BY votes DESC, cand_lang ASC) AS rn "
            "  FROM votes) WHERE rn = 1) "
            "SELECT d.doc_id, coalesce(best.cand_lang, 'unk') AS pred_lang, "
            "CAST(coalesce(best.votes, 0) AS BIGINT) AS votes "
            "FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id"
        ),
        "q_lang_id_multi": lang_multi_sql,
        "q_quality": (
            "WITH base AS (SELECT doc_id, text, length(text) AS n_chars, "
            "  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
            "    x -> x <> '') AS toks FROM documents), "
            "feat AS (SELECT doc_id, n_chars, len(toks) AS n_tokens, "
            "  length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum, "
            "  length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits, "
            "  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct, "
            "  length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers, "
            "  len(list_filter(toks, t -> t IN (" + en_sw_list + "))) AS stops "
            "  FROM base) "
            "SELECT doc_id, CAST(n_chars AS INT) AS n_chars, CAST(n_tokens AS INT) AS n_tokens, "
            "round(CASE WHEN n_tokens > 0 THEN CAST(alnum AS DOUBLE)/n_tokens ELSE 0 END, 6) AS mean_token_len, "
            "round(CASE WHEN n_chars > 0 THEN CAST(digits AS DOUBLE)/n_chars ELSE 0 END, 6) AS digit_ratio, "
            "round(CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0 END, 6) AS punct_ratio, "
            "round(CASE WHEN n_chars > 0 THEN CAST(uppers AS DOUBLE)/n_chars ELSE 0 END, 6) AS upper_ratio, "
            "round(CASE WHEN n_tokens > 0 THEN CAST(stops AS DOUBLE)/n_tokens ELSE 0 END, 6) AS stopword_ratio, "
            "round(least(n_tokens/200.0, 1.0)*0.35 "
            "  + least((CASE WHEN n_tokens > 0 THEN CAST(stops AS DOUBLE)/n_tokens ELSE 0 END)*5, 1.0)*0.25 "
            "  + (1 - least((CASE WHEN n_chars > 0 THEN CAST(digits AS DOUBLE)/n_chars ELSE 0 END)*5, 1.0))*0.2 "
            "  + (1 - least((CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0 END)*5, 1.0))*0.2, 6) "
            "AS quality_score FROM feat"
        ),
        "q_token_count": (
            "SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text), "
            "'[^a-z0-9]+'), x -> x <> '')) AS INT) AS n_tokens, "
            "CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
            "x -> x <> '')) + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) "
            "AS INT) AS n_pieces FROM documents"
        ),
        "q_decontaminate": (
            "WITH tl AS (SELECT doc_id, list_filter(regexp_split_to_array("
            "  lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents), "
            "docg AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "  range(1, len(toks)-3), i -> toks[i] || ' ' || toks[i+1] || ' ' || "
            "  toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS g "
            "  FROM tl WHERE len(toks) >= 5), "
            "bg AS (SELECT DISTINCT g FROM docg WHERE doc_id < 3), "
            "hits AS (SELECT docg.doc_id, CAST(count(*) AS INT) AS n "
            "  FROM docg JOIN bg USING (g) GROUP BY 1) "
            "SELECT d.doc_id, CAST(coalesce(hits.n, 0) AS INT) AS n_hits, "
            "coalesce(hits.n, 0) > 0 AS contaminated "
            "FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id"
        ),
        # same RE2-safe regexes as operators/scrub.py, 'g' flag = Spark's
        # replace-all semantics
        "q_url_canonical": (
            f"WITH u AS (SELECT doc_id, {_URL_TEMPLATE_SQL} AS url FROM documents), "
            "s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM u), "
            "parts AS (SELECT doc_id, u, "
            "  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme, "
            "  lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS rawhost, "
            "  regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            "    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g'), "
            "    '([?&])(utm_[a-z]+=[^&#]*&?)+', '\\1', 'g'), '[?&]+$', '', 'g'), "
            "    '\\?&', '?', 'g'), '/$', '', 'g') AS rest "
            "  FROM s1), "
            "h AS (SELECT *, CASE WHEN scheme = 'http' THEN "
            "    regexp_replace(rawhost, ':80$', '', 'g') "
            "  WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '', 'g') "
            "  ELSE rawhost END AS host FROM parts) "
            "SELECT doc_id, CASE WHEN scheme = '' THEN u "
            "ELSE concat(scheme, '://', host, rest) END AS canonical_url FROM h"
        ),
        "q_pii_scrub": (
            f"WITH t AS (SELECT doc_id, {_PII_TEMPLATE_SQL} AS text FROM documents), "
            "e AS (SELECT doc_id, text, "
            "  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM t) "
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, "
            "CAST(len(regexp_extract_all(t1, '\\+?[0-9][0-9()\\- ]{6,}[0-9]')) AS INT) AS n_phones, "
            "regexp_replace(t1, '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted "
            "FROM e"
        ),
        "q_repetition": (
            "WITH ls AS (SELECT doc_id, list_filter(string_split(text, chr(10)), "
            "  x -> trim(x) <> '') AS ls FROM documents), "
            "lines AS (SELECT doc_id, len(ls) AS n_lines, "
            "  len(list_distinct(ls)) AS n_distinct FROM ls), "
            "toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
            "  '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents), "
            "bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), "
            "  i -> toks[i] || ' ' || toks[i+1])) AS g FROM toks), "
            "bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2), "
            "share AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) "
            "  AS top_bigram_share FROM bc GROUP BY 1) "
            "SELECT lines.doc_id, CAST(n_lines AS INT) AS n_lines, "
            "round(CASE WHEN n_lines > 0 THEN 1.0 - CAST(n_distinct AS DOUBLE) "
            "  / n_lines ELSE 0.0 END, 6) AS dup_line_frac, "
            "coalesce(share.top_bigram_share, 0.0) AS top_bigram_share "
            "FROM lines LEFT JOIN share USING (doc_id)"
        ),
        "q_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_qty, "
            "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_base_price, "
            "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE), 2) AS sum_disc_price, "
            "round(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY 1, 2"
        ),
        "q_top_customers": (
            "WITH spend AS (SELECT o_custkey, round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE), 2) AS "
            "total_spend, count(*) AS n_orders FROM orders GROUP BY 1) "
            "SELECT o_custkey, c_name, total_spend, n_orders, "
            "CAST(rank AS INT) AS rank FROM ("
            "  SELECT o_custkey, c.c_name, total_spend, n_orders, "
            "  row_number() OVER (ORDER BY total_spend DESC, o_custkey ASC) AS rank "
            "  FROM spend JOIN customer c ON spend.o_custkey = c.c_custkey) "
            "WHERE rank <= 10"
        ),
        "q_events_daily": (
            "SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, "
            "round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 4) AS sum_value FROM events GROUP BY 1, 2"
        ),
        "q_exact_dedup_keep": (
            "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, "
            "CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1"
        ),
        "q_top_bigrams_per_source": (
            "WITH g AS (SELECT source, unnest(list_transform(range(1, len(toks)), "
            "  i -> toks[i] || ' ' || toks[i+1])) AS bigram "
            "FROM (SELECT source, list_filter(regexp_split_to_array(lower(text), "
            "  '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)), "
            "c AS (SELECT source, bigram, count(*) AS cnt FROM g GROUP BY 1, 2) "
            "SELECT source, bigram, cnt, CAST(rank AS INT) AS rank FROM ("
            "  SELECT source, bigram, cnt, row_number() OVER ("
            "    PARTITION BY source ORDER BY cnt DESC, bigram ASC) AS rank FROM c)"
            " WHERE rank <= 3"
        ),
        "q_events_sessionize": (
            "WITH gapped AS (SELECT user_id, event_id, ts, CASE WHEN "
            "  lag(ts) OVER w IS NULL THEN 1 WHEN "
            "  epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
            "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)), "
            "sess AS (SELECT user_id, event_id, ts, CAST(sum(ns) OVER ("
            "  PARTITION BY user_id ORDER BY ts ASC, event_id ASC "
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id "
            "  FROM gapped) "
            "SELECT user_id, session_id, count(*) AS n_events, "
            "min(ts) AS session_start, max(ts) AS session_end "
            "FROM sess GROUP BY 1, 2"
        ),
        "q_orders_running_total": (
            "SELECT o_custkey, o_orderkey, "
            "round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) OVER ("
            "  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC "
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) "
            "AS running_spend FROM orders"
        ),
        "q_discard_filter": (
            "SELECT doc_id, source FROM documents "
            "WHERE source NOT IN ('src1', 'src3')"
        ),
        "q_knn_label_precision": (
            "WITH pairs AS (SELECT a.vec_id AS id_a, a.label AS la, "
            "  b.vec_id AS id_b, b.label AS lb, "
            "  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "  CAST(b.embedding AS DOUBLE[])), 9) AS c "
            "  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id), "
            "top AS (SELECT id_a, la, lb FROM ("
            "  SELECT id_a, la, lb, row_number() OVER ("
            "    PARTITION BY id_a ORDER BY c DESC, id_b ASC) AS rn FROM pairs) "
            "  WHERE rn <= 5) "
            "SELECT id_a AS vec_id, round(avg(CASE WHEN lb = la THEN 1.0 ELSE 0.0 END), 6) "
            "AS prec5 FROM top GROUP BY 1"
        ),
        "q_supplier_nation_rollup": (
            "SELECT r_name, n_name, count(*) AS n_suppliers, "
            "round(CAST(sum(CAST(s_acctbal AS DECIMAL(20,6))) AS DOUBLE), 2) AS total_acctbal "
            "FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1, 2"
        ),
        # MinHash-LSH: candidates re-derived from the STAGED signatures by
        # exact band-slice equality (8 bands x 4 rows; Spark's band hash is
        # only a shuffle-key compaction of the same slice), then exact
        # bigram-Jaccard verify against documents, threshold in lockstep.
        "q_minhash_lsh_pairs": (
            f"WITH s AS (SELECT id, minhash FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/minhash_sigs/*.parquet')), "
            "bands AS (SELECT id, b, minhash[b*4+1 : b*4+4] AS slc "
            "  FROM s, range(0, 8) t(b)), "
            # mirror the engine's max_bucket=1000 degenerate-bucket guard:
            # small buckets join quadratically, oversized buckets emit star
            # pairs to the min-id representative (dedup.lsh_candidate_pairs)
            "bsz AS (SELECT b, slc, count(*) AS n, min(id) AS rep "
            "  FROM bands GROUP BY b, slc), "
            "cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b "
            "  FROM bands x JOIN bands y ON x.b = y.b AND x.slc = y.slc "
            "  AND x.id < y.id "
            "  JOIN bsz z ON z.b = x.b AND z.slc = x.slc AND z.n <= 1000 "
            "  UNION "
            "  SELECT DISTINCT z.rep AS id_a, x.id AS id_b "
            "  FROM bands x JOIN bsz z ON z.b = x.b AND z.slc = x.slc "
            "  AND z.n > 1000 AND x.id <> z.rep), "
            "sh AS (SELECT doc_id AS id, list_distinct(list_transform("
            "  range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh "
            "  FROM (SELECT doc_id, list_filter(regexp_split_to_array("
            "    lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks "
            "    FROM documents)), "
            "ver AS (SELECT id_a, id_b, "
            "  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / "
            "  (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j "
            "  FROM cand JOIN sh sa ON sa.id = id_a JOIN sh sb ON sb.id = id_b) "
            "SELECT id_a, id_b, round(j, 4) AS jaccard FROM ver WHERE j >= 0.4"
        ),
        # ANN-LSH: exact-cosine top-k ranking verified over the STAGED
        # probed-candidate set (bucketing itself is seeded-hyperplane math,
        # recall pytest-verified)
        "q_ann_lsh": (
            f"WITH c AS (SELECT vec_id FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/ann_candidates/*.parquet')), "
            "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
            "scored AS (SELECT e.vec_id, round(list_cosine_similarity("
            "  CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 4) AS cosine "
            "  FROM embeddings e JOIN c USING (vec_id) CROSS JOIN q) "
            "SELECT vec_id, cosine, CAST(rank AS INT) AS rank FROM ("
            "  SELECT vec_id, cosine, row_number() OVER ("
            "    ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored) "
            "WHERE rank <= 10"
        ),
        # Hamming top-k: the Spark query stages the fly signatures (packed
        # int64 words) + the query signature to parquet; the oracle verifies
        # the Hamming search itself over the exact same staged inputs.
        "q_hamming_topk": (
            f"WITH s AS (SELECT url, sig FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/hamming_sigs/*.parquet')), "
            f"q AS (SELECT qsig FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/hamming_query/*.parquet')), "
            "d AS (SELECT s.url, CAST(list_sum(list_transform("
            "  range(1, len(s.sig) + 1), "
            "  i -> bit_count(xor(s.sig[i], q.qsig[i])))) AS BIGINT) AS hamming "
            "FROM s CROSS JOIN q) "
            "SELECT url, hamming FROM d ORDER BY hamming ASC, url ASC LIMIT 10"
        ),
        # fly signatures: the Spark query stages the INDEPENDENT driver-side
        # oracle's expected rows (oracle/fly_oracle.py — dict counting,
        # sorted-threshold WTA, index-list projection sums; shares no code
        # with the engine kernel) and the hash compare proves engine ==
        # re-derivation (VERDICT r2 next-round #1)
        "q_fly_signatures": (
            f"SELECT url, sig_hex, keywords_csv, doclen FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/fly_expected/*.parquet')"
        ),
        # semantic map: signatures + final centroids staged by the Spark
        # query; the oracle re-derives the full assignment (nearest
        # centroid by Hamming, ties -> smallest cluster id) and the
        # per-cluster sizes over the same staged inputs
        "q_semantic_map": (
            f"WITH s AS (SELECT url, sig FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/map_sigs/*.parquet')), "
            f"c AS (SELECT cid, cvec FROM "
            f"read_parquet('{HAMMING_STAGE_DIR}/map_centroids/*.parquet')), "
            "d AS (SELECT s.url, c.cid, CAST(list_sum(list_transform("
            "  range(1, len(s.sig) + 1), "
            "  i -> bit_count(xor(s.sig[i], c.cvec[i])))) AS BIGINT) AS hamming "
            "FROM s CROSS JOIN c), "
            "a AS (SELECT url, cid, hamming, row_number() OVER ("
            "  PARTITION BY url ORDER BY hamming ASC, cid ASC) AS rn FROM d) "
            "SELECT url, CAST(cid AS INT) AS cluster_id, hamming, "
            "CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n "
            "FROM a WHERE rn = 1"
        ),
        # multimodal: expected rows staged by the INDEPENDENT byte-walking
        # decoder (oracle/media_oracle.py); round at 4dp like the Spark side
        "q_multimodal_features": (
            "SELECT media_id, kind, n_bytes, "
            + ", ".join(f"round(f{i}, 4) AS f{i}" for i in range(16))
            + f" FROM read_parquet('{HAMMING_STAGE_DIR}/mm_expected/*.parquet')"
        ),
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Pytest-only queries: correct but redundant with registered entries
    (the driver's correctness gate caps at 50 rows, so the public
    ``queries()`` registry is trimmed to exactly 50; these three stay
    oracle-verified in tests/test_entry_contract.py).

    - q_exact_dup_groups: exact dedup, subsumed by q_exact_dedup_keep +
      q_dup_clusters.
    - q_bigram_counts: corpus bigrams, subsumed by q_top_bigrams_per_source
      and q_pmi_collocations.
    - q_embedding_cosine: brute-force cosine, called by (and therefore
      verified through) q_embedding_topk.
    - q_doclen: the A8 dl statistic, subsumed by q_collection_stats (sums
      the same per-doc counts) and q_doc_freq; moved out in r5 to make
      window room for q_semantic_map.
    """
    return {
        "q_exact_dup_groups": q_exact_dup_groups,
        "q_bigram_counts": q_bigram_counts,
        "q_embedding_cosine": q_embedding_cosine,
        "q_doclen": q_doclen,
    }


def extra_oracle_sql() -> dict[str, str]:
    """DuckDB oracles for extra_queries() (same contract as oracle_sql())."""
    return {
        "q_exact_dup_groups": (
            "SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_dups, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM documents GROUP BY 1 HAVING count(*) > 1"
        ),
        "q_bigram_counts": (
            "WITH g AS (SELECT unnest(list_transform(range(1, len(toks)), "
            "  i -> toks[i] || ' ' || toks[i+1])) AS bigram "
            "FROM (SELECT list_filter(regexp_split_to_array(lower(text), "
            "  '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)) "
            "SELECT bigram, count(*) AS cnt FROM g GROUP BY 1"
        ),
        "q_embedding_cosine": (
            "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT vec_id, round(list_cosine_similarity("
            "  CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 4) AS cosine "
            "FROM embeddings CROSS JOIN q"
        ),
        "q_doclen": (
            f"WITH toks AS ({_SQL_TOKS}) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1"
        ),
    }
