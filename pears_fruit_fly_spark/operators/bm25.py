"""BM25 top-k serving: relational reference path + block-max WAND path.

Okapi BM25 pinned to k1=1.2, b=0.75 (BASELINE.json north_rule),
idf = ln((N - df + 0.5)/(df + 0.5) + 1), ties broken (score desc, doc_id asc).
Rank identity is verified against oracle/bm25_numpy.py (SURVEY.md §5.2 item 3).

Two implementations, deliberately:

* ``bm25_scores_relational`` / ``bm25_topk_relational`` — pure DataFrame over
  long-format tokens. Catalyst plans it as broadcast-join + partial/final
  hash agg + TakeOrderedAndProject: the cross-checkable reference path
  (DuckDB oracle SQL in __spark_entry__.py matches it 1:1).

* ``bm25_topk_wand`` — the serving path over the compressed index, one
  query shape: partition-pruned scan of query-term buckets → doc-range
  scatter of ENCODED blocks → per-range exact block-max WAND
  (segment-at-a-time, vectorized decode, threshold pruning skips whole
  blocks) → k-row gather. The only shuffle moves compressed block bytes of
  the query's terms; building the plan submits no Spark job.

Distributed-WAND note: postings are term-partitioned (build locality), but
doc-aligned scoring needs all query terms per doc in one task, so the query
scatters blocks into doc-range groups first. A block whose [first_doc,
last_doc] straddles range boundaries is sent to each overlapped range and
masked after decode — exactness is preserved, and only genuinely sparse
terms straddle many ranges (their lists are tiny).
"""

from __future__ import annotations

import math
import os

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

from pears_fruit_fly_spark.config import BM25Config
from pears_fruit_fly_spark.functions.tokenizer import whitespace_tokenize
from pears_fruit_fly_spark.functions.vocab import Vocab
from pears_fruit_fly_spark.operators.codec import bm25_impact, varbyte_decode, delta_decode
from pears_fruit_fly_spark.plans.manifest import read_build_info
from pears_fruit_fly_spark.operators.postings import read_postings, read_term_stats

SCORE_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)

# Opened-index cache: avoids re-listing parquet files and re-reading
# build_info on every query (serving-path latency). Keyed by
# (index_dir, _build_info.json mtime) so a rebuild/compaction in the same
# session evicts the stale entry instead of serving deleted parquet paths
# and stale n_docs/avgdl/df (ADVICE r1). Bounded two ways: one live entry
# per dir, and an LRU cap across dirs (each entry pins a persisted
# term_stats DataFrame in executor memory).
_INDEX_CACHE: dict[str, tuple] = {}
_INDEX_CACHE_MAX_DIRS = 8


def _index_version(index_dir: str):
    """Cache key covering the base AND every append segment: adding a
    segment, rebuilding, merging, or deleting all change it. Keyed on each
    build's build_id (regenerated on every build_info write) rather than
    file mtimes, so rebuilds within filesystem timestamp granularity or from
    another process still evict (ADVICE r2); tombstone state is keyed on the
    delete-batch FILENAMES (each delete appends uniquely-named parquet
    parts), which are granularity-independent too."""
    import json

    from pears_fruit_fly_spark.operators.postings import (
        TOMBSTONES_DIRNAME,
        list_segments,
    )
    from pears_fruit_fly_spark.plans import commitlog as _cl
    from pears_fruit_fly_spark.plans import fsio

    live = _cl.resolve(index_dir)
    paths = [live] + list_segments(index_dir)
    version: list = [_cl.current_version(index_dir)]
    for p in paths:
        info_path = os.path.join(p, "_build_info.json")
        try:
            bid = json.loads(fsio.read_text(info_path)).get("build_id")
        except (OSError, ValueError):
            bid = None
        # fsio.getmtime, not os.path: the fallback must work on scheme'd
        # index roots too (same FileNotFoundError contract when missing)
        version.append(bid if bid is not None else fsio.getmtime(info_path))
    tomb = os.path.join(live, TOMBSTONES_DIRNAME)
    if fsio.isdir(tomb):
        version.append(tuple(sorted(fsio.listdir(tomb))))
    return tuple(version)


def invalidate_index_cache(index_dir: str | None = None) -> None:
    """Drop cached index handles (all dirs, or one). Unpersists the pinned
    term_stats DataFrame so executor memory is released. Called by
    build_postings/compact_postings; also safe to call manually."""
    keys = [index_dir] if index_dir is not None else list(_INDEX_CACHE)
    for key in keys:
        hit = _INDEX_CACHE.pop(key, None)
        if hit is not None:
            try:
                hit[3].unpersist()
                if len(hit) > 7 and hit[7] is not None:
                    hit[7].unpersist()  # pinned distributed tombstone set
            except Exception:  # session may already be stopped
                pass

# Vocabularies up to this size keep (df, bucket) per term in DRIVER memory:
# the per-query stats lookup then costs zero Spark jobs. Above it (web-scale
# vocabularies), lookups hit the persisted term_stats table instead.
_DRIVER_STATS_MAX_TERMS = 2_000_000


def open_index(spark: SparkSession, index_dir: str):
    """(build_info, postings_df, term_stats_df, driver_stats|None), cached.

    With append segments present (postings.append_postings), this is the
    MERGED-ON-READ view: global n_docs/avgdl/df are summed across base +
    segments; each segment's stored block-max bounds (computed with ITS
    build-time avgdl) are scaled by max(1, avgdl_global/avgdl_segment),
    which upper-bounds the impact ratio for every posting (the ratio
    (X + c/A_s)/(X + c/A_g) is monotone in c with supremum A_g/A_s), so
    block-max WAND pruning remains exact. Scoring itself needs no
    correction: dl travels inside the blocks and impacts are computed at
    decode time with the global avgdl.

    Tombstoned doc ids (postings.delete_docs) are masked out of every
    query; stats stay pre-delete until merge_segments purges them (Lucene
    liveDocs semantics). Sets up to TOMBSTONE_DRIVER_MAX ids ride as a
    sorted driver array; larger sets stay a DataFrame and the query path
    masks them distributed (cogrouped per doc range) — the driver never
    materializes an unbounded delete set (VERDICT r2 #3).
    """
    from pears_fruit_fly_spark.operators.postings import (
        TOMBSTONE_DRIVER_MAX,
        list_segments,
        read_tombstones,
        read_tombstones_df,
        tombstone_count,
    )
    from pears_fruit_fly_spark.plans import commitlog as _cl

    version = _index_version(index_dir)
    hit = _INDEX_CACHE.get(index_dir)
    if hit is not None and hit[0] == version:
        _INDEX_CACHE[index_dir] = _INDEX_CACHE.pop(index_dir)  # LRU touch
        return hit[1:]
    if hit is not None:  # stale build under the same path
        invalidate_index_cache(index_dir)
    while len(_INDEX_CACHE) >= _INDEX_CACHE_MAX_DIRS:
        invalidate_index_cache(next(iter(_INDEX_CACHE)))  # evict LRU

    live = _cl.resolve(index_dir)
    seg_dirs = list_segments(index_dir)
    base_info = read_build_info(live)
    if not seg_dirs:
        info = base_info
        postings = read_postings(spark, index_dir)
        stats = read_term_stats(spark, index_dir)
    else:
        seg_infos = [read_build_info(d) for d in seg_dirs]
        infos = [base_info] + seg_infos
        dirs_for_read = [live] + seg_dirs
        for i in infos[1:]:
            if (i["num_partitions"], i["k1"], i["b"]) != (
                base_info["num_partitions"], base_info["k1"], base_info["b"]
            ):
                raise ValueError(
                    "segment layout/BM25 params differ from base — "
                    "segments are only appendable with inherited parameters"
                )
        n_docs = sum(i["n_docs"] for i in infos)
        total_tokens = sum(i["total_tokens"] for i in infos)
        avgdl = max(1e-9, total_tokens / max(1, n_docs))
        dirs = dirs_for_read
        parts = []
        for d, i in zip(dirs, infos):
            scale = max(1.0, avgdl / i["avgdl"])
            parts.append(
                read_postings(spark, d).withColumn(
                    "max_impact", F.col("max_impact") * F.lit(scale)
                )
            )
        postings = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: a legacy base (no positions column on
            # disk) composes with post-positional segments — absent side
            # reads as NULL
            postings = postings.unionByName(p, allowMissingColumns=True)
        stats_union = read_term_stats(spark, dirs[0])
        for d in dirs[1:]:
            stats_union = stats_union.unionByName(read_term_stats(spark, d))
        stats = stats_union.groupBy("term_id", "term_bucket").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )
        info = dict(base_info)
        info.update(
            n_docs=n_docs, total_tokens=total_tokens, avgdl=avgdl,
            max_doc=max(
                (i.get("max_doc") for i in infos if i.get("max_doc") is not None),
                default=None,
            ),
            n_segments=len(seg_dirs),
        )
    # term_stats is the per-query lookup table: pin it in executor memory
    # (it is ~vocab-sized, partitioned; the lookup filter prunes by term_id)
    stats = stats.persist()
    driver_stats = None
    if info.get("vocab_size", 1 << 62) <= _DRIVER_STATS_MAX_TERMS:
        driver_stats = {
            int(r["term_id"]): (int(r["df"]), int(r["term_bucket"]))
            for r in stats.collect()
        }
    tomb_count = tombstone_count(spark, index_dir)
    tombstones = (
        read_tombstones(spark, index_dir, known_count=tomb_count)
        if 0 < tomb_count <= TOMBSTONE_DRIVER_MAX
        else None
    )
    # large delete sets: pin the distinct tombstone table so the per-query
    # distributed mask re-reads memory, not parquet (review finding)
    tomb_df = (
        read_tombstones_df(spark, index_dir).persist()
        if tomb_count > TOMBSTONE_DRIVER_MAX
        else None
    )
    _INDEX_CACHE[index_dir] = (
        version, info, postings, stats, driver_stats, tombstones,
        tomb_count, tomb_df,
    )
    return _INDEX_CACHE[index_dir][1:]


def lookup_terms(
    spark: SparkSession, index_dir: str, term_ids
) -> dict[int, tuple[int, int]]:
    """{term_id: (df, term_bucket)} for the given terms that have postings.

    Zero Spark jobs while the vocabulary fits _DRIVER_STATS_MAX_TERMS (the
    stats ride in driver memory); above it, ONE small collect over the
    persisted term_stats table (term_bucket precomputed at build time —
    postings.py stage 1 — so the same lookup yields the pruning buckets)."""
    _, _, term_stats, driver_stats, *_ = open_index(spark, index_dir)
    if driver_stats is not None:
        return {t: driver_stats[t] for t in term_ids if t in driver_stats}
    return {
        int(r["term_id"]): (int(r["df"]), int(r["term_bucket"]))
        for r in term_stats.filter(F.col("term_id").isin(list(term_ids)))
        .select("term_id", "df", "term_bucket")
        .collect()
    }


def query_term_counts(query_text: str, vocab: Vocab) -> dict[int, int]:
    """Query terms → {term_id: query_tf}; OOV terms dropped."""
    ids = vocab.encode(whitespace_tokenize(query_text.replace("\n", " ")))
    out: dict[int, int] = {}
    for t in ids:
        out[t] = out.get(t, 0) + 1
    return out


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


# ---------------------------------------------------------------------------
# Relational reference path (over long-format tokens)
# ---------------------------------------------------------------------------


def bm25_scores_relational(
    tokens: DataFrame,
    qterms: dict[int, int],
    n_docs: int,
    avgdl: float,
    bm25: BM25Config = BM25Config(),
) -> DataFrame:
    """tokens(doc_id, term_id, tf, dl) → (doc_id, score) for matching docs.

    Plan: broadcast the tiny query-term dim (J6 in SURVEY.md §2.4) → semi-
    join prunes non-query terms at the scan → per-term contribution computed
    JVM-side → hash agg. df comes from a term-level aggregation of the same
    pruned scan, so no full-vocabulary stats table is required.
    """
    spark = tokens.sparkSession
    q = spark.createDataFrame(
        [(int(t), int(c)) for t, c in qterms.items()], "term_id int, qtf int"
    )
    hits = tokens.join(F.broadcast(q), "term_id")
    dfs = hits.groupBy("term_id").agg(F.countDistinct("doc_id").alias("df"))
    hits = hits.join(F.broadcast(dfs), "term_id")
    k1, b = bm25.k1, bm25.b
    contrib = (
        F.col("qtf")
        * F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl))))
    )
    return (
        hits.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def bm25_topk_relational(
    tokens: DataFrame,
    qterms: dict[int, int],
    n_docs: int,
    avgdl: float,
    k: int,
    bm25: BM25Config = BM25Config(),
) -> DataFrame:
    scores = bm25_scores_relational(tokens, qterms, n_docs, avgdl, bm25)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# WAND serving path (over the compressed index)
# ---------------------------------------------------------------------------


class _Run:
    """Cursor over one (term, salt) posting run inside a doc range."""

    __slots__ = ("blocks", "i", "weight", "buf_ids", "buf_scores", "lo", "hi",
                 "stats")

    def __init__(self, blocks: list, weight: float, lo: int, hi: int,
                 stats: dict):
        # blocks sorted by first_doc; weight = qtf * idf
        self.blocks = blocks
        self.i = 0
        self.weight = weight
        self.buf_ids: np.ndarray | None = None
        self.buf_scores: np.ndarray | None = None
        self.lo, self.hi = lo, hi  # range mask for straddling blocks
        self.stats = stats  # {"decoded": n} instrumentation

    def active(self) -> bool:
        return self.buf_ids is not None or self.i < len(self.blocks)

    def cur_first(self) -> int:
        if self.buf_ids is not None:
            return int(self.buf_ids[0])
        return max(int(self.blocks[self.i]["first_doc"]), self.lo)

    def cur_last(self) -> int:
        if self.buf_ids is not None:
            return int(self.buf_ids[-1])
        return min(int(self.blocks[self.i]["last_doc"]), self.hi)

    def cur_ub(self) -> float:
        if self.buf_ids is not None:
            return self.weight * float(self.buf_scores.max()) if self.buf_scores.size else 0.0
        return self.weight * float(self.blocks[self.i]["max_impact"])

    def _decode_current(self, avgdl: float, k1: float, b: float) -> None:
        self.stats["decoded"] = self.stats.get("decoded", 0) + 1
        blk = self.blocks[self.i]
        n = int(blk["n"])
        ids = delta_decode(
            int(blk["first_doc"]), varbyte_decode(bytes(blk["doc_gaps"]), n)
        ).astype(np.int64)
        tfs = (varbyte_decode(bytes(blk["tfs"]), n) + np.uint64(1)).astype(np.int64)
        dls = varbyte_decode(bytes(blk["dls"]), n).astype(np.int64)
        mask = (ids >= self.lo) & (ids <= self.hi)
        ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
        self.buf_ids = ids
        self.buf_scores = bm25_impact(tfs, dls, avgdl, k1, b)
        self.i += 1

    def consume_upto(self, e: int, avgdl: float, k1: float, b: float):
        """Return (ids, weighted_scores) for postings with id <= e; advance."""
        out_i, out_s = [], []
        while self.active() and self.cur_first() <= e:
            if self.buf_ids is None:
                self._decode_current(avgdl, k1, b)
                if self.buf_ids.size == 0:
                    self.buf_ids = self.buf_scores = None
                    continue
            take = self.buf_ids <= e
            if take.any():
                out_i.append(self.buf_ids[take])
                out_s.append(self.buf_scores[take] * self.weight)
            rest = ~take
            if rest.any():
                self.buf_ids = self.buf_ids[rest]
                self.buf_scores = self.buf_scores[rest]
                break
            self.buf_ids = self.buf_scores = None
        if out_i:
            return np.concatenate(out_i), np.concatenate(out_s)
        return None, None

    def skip_blocks_ending_by(self, e: int) -> None:
        """Advance past whole blocks with last_doc <= e WITHOUT decoding."""
        if self.buf_ids is not None:
            # buffered remainder: drop entries <= e (they were pruned)
            keep = self.buf_ids > e
            if keep.all():
                return
            if keep.any():
                self.buf_ids = self.buf_ids[keep]
                self.buf_scores = self.buf_scores[keep]
            else:
                self.buf_ids = self.buf_scores = None
            return
        while self.i < len(self.blocks) and min(
            int(self.blocks[self.i]["last_doc"]), self.hi
        ) <= e:
            self.i += 1


def _wand_score_range(
    runs: list[_Run],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    candidates: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k within one doc range via segment-at-a-time block-max WAND.

    Invariant per iteration: let e = min over active runs of cur_last(). All
    postings with doc_id <= e live in the runs' current blocks/buffers, so
    their total scores are final after one consume pass — score once, then
    either prune the whole segment (sum of block ubs < theta) or score it.

    The running top-k is kept as two parallel arrays merged with a
    vectorized lexsort per segment (score desc, doc_id asc) — no per-posting
    Python heap loop (VERDICT r1 #8). candidates, when given, is a SORTED
    int64 array (the fruit-fly prefilter set) applied with np.isin.
    """
    top_d = np.empty(0, dtype=np.int64)
    top_s = np.empty(0, dtype=np.float64)
    theta = -1.0  # k-th best score once the top-k is full

    def push(ids: np.ndarray, scores: np.ndarray) -> None:
        nonlocal top_d, top_s, theta
        if top_s.size == k:
            # vectorized pre-prune: equal-score items can still win on
            # doc_id ties, so keep >= theta
            m = scores >= theta
            if not m.any():
                return
            ids, scores = ids[m], scores[m]
        cat_d = np.concatenate([top_d, ids])
        cat_s = np.concatenate([top_s, scores])
        order = np.lexsort((cat_d, -cat_s))[:k]
        top_d, top_s = cat_d[order], cat_s[order]
        if top_s.size == k:
            theta = top_s[-1]

    while True:
        active = [r for r in runs if r.active()]
        if not active:
            break
        e = min(r.cur_last() for r in active)
        ub = sum(r.cur_ub() for r in active if r.cur_first() <= e)
        if top_s.size == k and ub < theta:
            for r in active:
                r.skip_blocks_ending_by(e)
            continue
        all_i, all_s = [], []
        for r in active:
            ids, scores = r.consume_upto(e, avgdl, k1, b)
            if ids is not None:
                all_i.append(ids)
                all_s.append(scores)
        if all_i:
            ids = np.concatenate(all_i)
            scores = np.concatenate(all_s)
            uniq, inv = np.unique(ids, return_inverse=True)
            totals = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(totals, inv, scores)
            if candidates is not None:
                keep = np.isin(uniq, candidates, assume_unique=True)
                uniq, totals = uniq[keep], totals[keep]
            if excluded is not None and uniq.size:
                keep = ~np.isin(uniq, excluded, assume_unique=True)
                uniq, totals = uniq[keep], totals[keep]
            if uniq.size:
                push(uniq, totals)
    order = np.lexsort((top_d, -top_s))
    return [(int(top_d[i]), float(top_s[i])) for i in order]


# At 10^12 docs a static range count would make each range's decode working
# set explode; ranges are sized so one range covers at most this many docs
# (and at least one range per core so small corpora still parallelize).
_DOCS_PER_RANGE_TARGET = 4_000_000


def _auto_ranges(spark: SparkSession, n_docs: int) -> int:
    return max(
        spark.sparkContext.defaultParallelism,
        (n_docs + _DOCS_PER_RANGE_TARGET - 1) // _DOCS_PER_RANGE_TARGET,
    )


def bm25_topk_wand(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    vocab: Vocab,
    k: int = 10,
    n_ranges: int | None = None,
    candidate_df: DataFrame | None = None,
    instrument: dict | None = None,
) -> DataFrame:
    """Top-k BM25 over the compressed index. Returns (doc_id, score).

    One query shape: the pruned blocks scatter to n_ranges doc ranges, each
    range runs the exact block-max WAND kernel, and the per-range top-k
    lists are gathered. Without aux input that is one
    groupBy(range_id).applyInPandas. Two aux inputs are instead COGROUPED
    per range, so each range task sees only its own slice and nothing is
    materialized on the driver (VERDICT r2 #3/#7):
      * tombstones, once the delete set exceeds the driver cap (smaller
        sets ride as a broadcast sorted array);
      * candidate_df, the hybrid prefilter (fruit-fly Hamming candidates)
        as a doc_id DataFrame — only those docs are scored, and
        prefilter_k can be 10^5+ without a driver hop.
    The return is lazy: with a warm open_index (and a driver-sized
    vocabulary, so the term lookup is in memory) building it submits no
    Spark job.

    n_ranges=None (default) derives the scatter width from n_docs so the
    per-range decode working set stays bounded at any corpus size
    (VERDICT r1 W6 design note); pass an int to pin it.
    instrument, when given, receives a 'decoded_blocks' accumulator whose
    value after materialization counts block decodes.
    """
    info, postings, _, _, tombstones, tomb_count, tomb_df = (
        open_index(spark, index_dir)
    )
    # tombstones is None either when there are none, or when the set is too
    # big for a driver array — then the distributed cogroup mask takes over
    tomb_distributed = tomb_count > 0 and tombstones is None
    n_docs, avgdl = info["n_docs"], info["avgdl"]
    k1, b = info["k1"], info["b"]
    if n_ranges is None:
        n_ranges = _auto_ranges(spark, n_docs)

    qcounts = query_term_counts(query_text, vocab)
    if not qcounts:
        return spark.createDataFrame([], SCORE_SCHEMA)

    term_ids = sorted(qcounts)
    found = lookup_terms(spark, index_dir, term_ids)
    buckets = sorted({bk for _, bk in found.values()})
    weights = {
        t: qcounts[t] * idf(n_docs, found[t][0]) for t in term_ids if t in found
    }
    if not weights:
        return spark.createDataFrame([], SCORE_SCHEMA)

    blocks = postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term_id").isin(list(weights))
    )
    if "positions" in blocks.columns:
        # BM25 never reads positions — keep them out of the scatter shuffle
        blocks = blocks.drop("positions")

    # scatter blocks to doc ranges (straddlers duplicated, masked after
    # decode); width from the doc-ID SPAN, not the count — appended
    # segments extend ids past n_docs of any single build
    span = (info.get("max_doc") + 1) if info.get("max_doc") is not None else n_docs
    range_width = max(1, (span + n_ranges - 1) // n_ranges)
    blocks = blocks.withColumn(
        "range_id",
        F.explode(
            F.sequence(
                (F.col("first_doc") / range_width).cast("long"),
                (F.col("last_doc") / range_width).cast("long"),
            )
        ),
    )

    b_weights = spark.sparkContext.broadcast(weights)
    b_excl = spark.sparkContext.broadcast(tombstones)
    decoded_acc = spark.sparkContext.accumulator(0)
    if instrument is not None:
        instrument["decoded_blocks"] = decoded_acc

    def _score_range(rid: int, pdf: pd.DataFrame, candidates, excluded
                     ) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        lo, hi = rid * range_width, (rid + 1) * range_width - 1
        w = b_weights.value
        stats: dict = {}
        runs = [
            _Run(grp.sort_values("first_doc").to_dict("records"), w[int(t)],
                 lo, hi, stats)
            for (t, _s), grp in pdf.groupby(["term_id", "salt"], sort=True)
        ]
        top = _wand_score_range(runs, k, avgdl, k1, b,
                                candidates=candidates, excluded=excluded)
        decoded_acc.add(int(stats.get("decoded", 0)))
        return pd.DataFrame(top, columns=["doc_id", "score"])

    # explicit numbered repartition on every scatter side: a plain groupBy
    # exchange here is AQE-coalescible, and a query's few MB of compressed
    # blocks coalesce to ONE partition — serializing every range's Python
    # WAND kernel into a single task (r6; measured 2-3x on query latency).
    # REPARTITION_BY_NUM shuffles are exempt from coalescing, and n_ranges
    # already scales with n_docs (_auto_ranges), so this stays right at any
    # corpus size. The group functions below carry no type hints: Spark
    # would try to infer the UDF kind from partial hints and warn.
    by_range = blocks.repartition(n_ranges, "range_id").groupBy("range_id")
    if not tomb_distributed and candidate_df is None:

        def _score_group(key, pdf):
            return _score_range(int(key[0]), pdf, None, b_excl.value)

        local_topk = by_range.applyInPandas(_score_group, SCORE_SCHEMA)
    else:
        aux_parts = []
        if tomb_distributed:  # table pinned in the opened-index cache
            aux_parts.append(tomb_df.withColumn("is_cand", F.lit(False)))
        if candidate_df is not None:
            aux_parts.append(
                candidate_df.select(
                    F.col(candidate_df.columns[0]).cast("long").alias("doc_id")
                ).withColumn("is_cand", F.lit(True))
            )
        aux = aux_parts[0]
        for p in aux_parts[1:]:
            aux = aux.unionByName(p)
        aux = aux.withColumn(
            "range_id", (F.col("doc_id") / F.lit(range_width)).cast("long")
        )
        cand_via_df = candidate_df is not None  # keep the DF out of the UDF closure

        def _score_cogroup(key, pdf, aux_pdf):
            ids = np.empty(0, dtype=np.int64)
            is_c = np.empty(0, dtype=bool)
            if not aux_pdf.empty:
                ids = aux_pdf["doc_id"].to_numpy(dtype=np.int64)
                is_c = aux_pdf["is_cand"].to_numpy(dtype=bool)
            return _score_range(
                int(key[0]), pdf,
                np.unique(ids[is_c]) if cand_via_df else None,
                np.unique(ids[~is_c]) if tomb_distributed else b_excl.value,
            )

        local_topk = by_range.cogroup(
            aux.repartition(n_ranges, "range_id").groupBy("range_id")
        ).applyInPandas(_score_cogroup, SCORE_SCHEMA)
    return local_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# Per-task cap on gathered (query-term x posting) contributions in the
# batch scoring kernel: queries are chunked under this budget (whole
# queries only), bounding peak memory at ~6 int64/float64 arrays of this
# length (~100 MB) regardless of batch size (ADVICE r5).
_BATCH_GATHER_BUDGET = 2_000_000

BATCH_SCORE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)


def bm25_topk_wand_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, str],
    vocab: Vocab,
    k: int = 10,
    n_ranges: int | None = None,
) -> DataFrame:
    """Batch serving: MANY queries answered in ONE scatter job.

    The high-throughput retrieval shape (training-data mining, offline
    eval): the postings of the UNION of all query terms scatter to doc
    ranges once; each range task decodes every needed block exactly once,
    then scores all queries term-at-a-time against the decoded arrays
    (exact; block-max pruning buys little once decode cost is amortized
    across queries). Per-query top-k via one ranking-window pass over
    p_ranges x k x n_queries candidate rows.

    Returns (query_id, doc_id, score) with rank ties broken by doc_id asc,
    rank-identical per query to bm25_topk_wand / the NumPy oracle.
    """
    from pyspark.sql.window import Window

    info, postings, _, _, tombstones, tomb_count, tomb_df = (
        open_index(spark, index_dir)
    )
    tomb_distributed = tomb_count > 0 and tombstones is None
    n_docs, avgdl = info["n_docs"], info["avgdl"]
    k1, b = info["k1"], info["b"]
    if n_ranges is None:
        n_ranges = _auto_ranges(spark, n_docs)

    qterm_counts = {qid: query_term_counts(text, vocab) for qid, text in queries.items()}
    all_terms = sorted({t for qc in qterm_counts.values() for t in qc})
    if not all_terms:
        return spark.createDataFrame([], BATCH_SCORE_SCHEMA)

    found = lookup_terms(spark, index_dir, all_terms)
    if not found:
        return spark.createDataFrame([], BATCH_SCORE_SCHEMA)
    buckets = sorted({bk for _, bk in found.values()})
    # per-query weights: qid -> {term: qtf * idf}
    qweights = {
        qid: {
            t: c * idf(n_docs, found[t][0]) for t, c in qc.items() if t in found
        }
        for qid, qc in qterm_counts.items()
    }
    qweights = {qid: w for qid, w in qweights.items() if w}

    span = (info.get("max_doc") + 1) if info.get("max_doc") is not None else n_docs
    range_width = max(1, (span + n_ranges - 1) // n_ranges)
    blocks = postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term_id").isin(list(found))
    )
    if "positions" in blocks.columns:
        blocks = blocks.drop("positions")  # BM25 never reads positions
    blocks = blocks.withColumn(
        "range_id",
        F.explode(
            F.sequence(
                (F.col("first_doc") / range_width).cast("long"),
                (F.col("last_doc") / range_width).cast("long"),
            )
        ),
    )

    if not qweights:
        return spark.createDataFrame([], BATCH_SCORE_SCHEMA)

    # flatten the query->term weights into parallel (qid, term, w) arrays,
    # qid-major in dict insertion order, terms in per-query weight order —
    # the scoring kernel joins them against the decoded term segments with
    # searchsorted instead of looping queries in Python, and THIS order is
    # what keeps per-(query, doc) float addition order (and therefore
    # scores) bit-identical to the old per-query loop
    p_qids = np.array(
        [qid for qid, w in qweights.items() for _ in w], dtype=np.int64
    )
    p_terms = np.array(
        [t for w in qweights.values() for t in w], dtype=np.int64
    )
    p_w = np.array(
        [x for w in qweights.values() for x in w.values()], dtype=np.float64
    )
    b_qflat = spark.sparkContext.broadcast((p_qids, p_terms, p_w))
    b_excl = spark.sparkContext.broadcast(tombstones)

    def _score_group_inner(pdf: pd.DataFrame, excl) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
        rid = int(pdf["range_id"].iloc[0])
        lo, hi = rid * range_width, (rid + 1) * range_width - 1
        # decode ALL blocks in one vectorized pass (r3), then group the
        # postings per term with a stable argsort — no per-row Python loop
        from pears_fruit_fly_spark.operators.codec import decode_blocks_batch

        ids, tfs_a, dls_a, rix = decode_blocks_batch(
            pdf["n"].to_numpy(), pdf["first_doc"].to_numpy(),
            pdf["doc_gaps"], pdf["tfs"], pdf["dls"],
        )
        terms_per_posting = pdf["term_id"].to_numpy()[rix]
        mask = (ids >= lo) & (ids <= hi)
        if excl is not None:
            mask &= ~np.isin(ids, excl)
        ids = ids[mask]
        terms_per_posting = terms_per_posting[mask]
        imp = bm25_impact(tfs_a[mask], dls_a[mask], avgdl, k1, b)
        order = np.argsort(terms_per_posting, kind="stable")
        t_s, ids_s, imp_s = (
            terms_per_posting[order], ids[order], imp[order]
        )
        uniq_t, t_starts = np.unique(t_s, return_index=True)
        bounds = np.concatenate([t_starts, [t_s.size]])

        # ---- vectorized multi-query scoring (r5) -----------------------
        # The old shape looped queries in Python (fine at 40, hot at
        # 4000). Instead: join the flat (qid, term, w) pairs against the
        # decoded term segments, gather every (pair x posting)
        # contribution with one take, and aggregate per (qid, doc) with
        # reduceat. Stable sorts keep each (qid, doc) group's
        # contributions in the same TERM order as the old concat loop;
        # reduceat's pairwise summation may still differ from the old
        # sequential np.add.at accumulation in the last ulp, so scores
        # match the per-query path to float tolerance, not bit-for-bit
        # (ADVICE r5 — ranks are compared on values rounded well above
        # ulp scale).
        # Memory bound (ADVICE r5): queries are processed in chunks whose
        # gathered postings stay under _BATCH_GATHER_BUDGET, never
        # splitting one query across chunks — per-task peak is
        # O(budget + one query's postings) instead of O(every query's
        # postings at once), which at 4000-query batches was an OOM risk.
        p_qids, p_terms, p_w = b_qflat.value
        pos = np.searchsorted(uniq_t, p_terms)
        ok = pos < uniq_t.size
        pos_c = np.where(ok, pos, 0)
        ok &= uniq_t[pos_c] == p_terms
        if not ok.any():
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
        seg = pos_c[ok]
        seg_a_all = bounds[seg]
        seg_len_all = bounds[seg + 1] - seg_a_all
        q_all = p_qids[ok]
        w_all = p_w[ok]
        if int(seg_len_all.sum()) == 0:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
        cum = np.cumsum(seg_len_all)
        frames = []
        start = 0
        n_pairs = q_all.size
        while start < n_pairs:
            base = int(cum[start - 1]) if start else 0
            end = int(
                np.searchsorted(cum, base + _BATCH_GATHER_BUDGET, "right")
            ) + 1
            end = min(max(end, start + 1), n_pairs)
            while end < n_pairs and q_all[end] == q_all[end - 1]:
                end += 1  # whole queries only — exactness per query
            seg_a = seg_a_all[start:end]
            seg_len = seg_len_all[start:end]
            total = int(seg_len.sum())
            if total == 0:
                start = end
                continue
            # vectorized multi-arange: postings of pair i occupy
            # ids_s[seg_a[i] : seg_a[i] + seg_len[i]]
            flat_starts = np.concatenate(([0], np.cumsum(seg_len)[:-1]))
            take = (
                np.repeat(seg_a, seg_len)
                + np.arange(total, dtype=np.int64)
                - np.repeat(flat_starts, seg_len)
            )
            doc_flat = ids_s[take]
            contrib = imp_s[take] * np.repeat(w_all[start:end], seg_len)
            qid_flat = np.repeat(q_all[start:end], seg_len)

            order = np.lexsort((doc_flat, qid_flat))  # stable: term order
            qs, ds, cs = qid_flat[order], doc_flat[order], contrib[order]
            new_grp = np.empty(qs.size, dtype=bool)
            new_grp[0] = True
            new_grp[1:] = (qs[1:] != qs[:-1]) | (ds[1:] != ds[:-1])
            g_starts = np.flatnonzero(new_grp)
            totals = np.add.reduceat(cs, g_starts)
            qid_u, doc_u = qs[g_starts], ds[g_starts]

            # per-query top-k, ties (score desc, doc asc)
            order2 = np.lexsort((doc_u, -totals, qid_u))
            q_sorted = qid_u[order2]
            q_new = np.empty(q_sorted.size, dtype=bool)
            q_new[0] = True
            q_new[1:] = q_sorted[1:] != q_sorted[:-1]
            q_start = np.flatnonzero(q_new)
            q_count = np.diff(np.append(q_start, q_sorted.size))
            rank = np.arange(q_sorted.size) - np.repeat(q_start, q_count)
            sel = order2[rank < k]
            frames.append(
                pd.DataFrame(
                    {"query_id": qid_u[sel], "doc_id": doc_u[sel],
                     "score": totals[sel]}
                )
            )
            start = end
        if not frames:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
        return pd.concat(frames, ignore_index=True)

    if tomb_distributed:
        # large delete sets: per-range tombstone slices cogrouped in, same
        # shape as the single-query path (VERDICT r2 #3); table pinned in
        # the opened-index cache
        tomb = tomb_df.withColumn(
            "range_id", (F.col("doc_id") / F.lit(range_width)).cast("long")
        )

        def _score_cogroup(key, pdf, tomb_pdf):
            excl = (
                np.unique(tomb_pdf["doc_id"].to_numpy(dtype=np.int64))
                if not tomb_pdf.empty
                else None
            )
            return _score_group_inner(pdf, excl)

        # numbered repartition: keep the scatter un-coalescible (see the
        # single-query path note — AQE otherwise serializes the ranges)
        local = (
            blocks.repartition(n_ranges, "range_id").groupBy("range_id")
            .cogroup(
                tomb.repartition(n_ranges, "range_id").groupBy("range_id")
            )
            .applyInPandas(_score_cogroup, BATCH_SCORE_SCHEMA)
        )
    else:

        def _score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            return _score_group_inner(pdf, b_excl.value)

        local = (
            blocks.repartition(n_ranges, "range_id")
            .groupBy("range_id")
            .applyInPandas(_score_group, BATCH_SCORE_SCHEMA)
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
