"""Inverted-index build: term-partitioned, delta+varbyte, block-max, resumable.

Not in the reference (its index is a pickled dense hash matrix,
fruit_fly/hash.py:275-284; merge = unpickle+vstack, hash_pod.py:88-113);
mandated by BASELINE.json north_rule. Physical design per SURVEY.md §3.2:

  stage 0  tokenize (narrow)      pages(doc_id, text) → tokens(doc_id,
                                  term_id, tf, dl) via mapInPandas — no shuffle
  stage 1  stats + salt plan      one hash-agg shuffle for term df/cf;
                                  head terms (Zipf skew) get n_salts sub-
                                  partitions (plans/salt.py)
  stage 2  stage tokens           ONE exchange: repartition by term bucket,
                                  write staging parquet partitioned by bucket
  stage 3  per-bucket encode      resumable loop over pending buckets: one
                                  encode task per (bucket, shard) spec; the
                                  task reads its bucket's staged parquet
                                  directly with pyarrow in the worker,
                                  lexsorts (term, salt, doc), emits
                                  compressed blocks → postings dir for that
                                  bucket + manifest row. Bulk tokens never
                                  cross the JVM↔Python boundary (r4 — the
                                  row feed was the non-scaling leg). Once
                                  every bucket is in the manifest, the
                                  staged tokens are deleted.

Resume = rerun build_postings with the same index_dir: completed buckets are
skipped; outputs are byte-identical to an uninterrupted run (tested).

At the 10^12-doc design point: num_partitions ≈ 4096 buckets; each bucket job
sorts ~1/4096 of total postings across many tasks. Scoring needs no joins at
query time because dl travels inside the posting blocks (codec.py trade-off
note).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pears_fruit_fly_spark.config import BM25Config, PostingsConfig
from pears_fruit_fly_spark.functions.vocab import Vocab
from pears_fruit_fly_spark.plans import commitlog as cl
from pears_fruit_fly_spark.plans import fsio
from pears_fruit_fly_spark.plans import manifest as mf
from pears_fruit_fly_spark.plans.salt import build_salt_plan, n_salts_for_df

# One driver thread for the concurrent corpus-fingerprint job of fresh
# builds (guide §2.6 — overlap independent jobs): builds are sequential,
# so a single shared worker suffices and its lifetime spans the process.
from concurrent.futures import ThreadPoolExecutor as _TPE

_FP_EXECUTOR = _TPE(max_workers=1, thread_name_prefix="pears-fingerprint")

TOKENS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("term_id", IntegerType()),
        StructField("tf", IntegerType()),
        StructField("dl", LongType()),
    ]
)

STAGED_TOKENS_SCHEMA = StructType(
    TOKENS_SCHEMA.fields + [StructField("term_bucket", IntegerType())]
)

# store_positions builds carry one extra binary per (doc, term): the
# varbyte-encoded token positions (codec.encode_position_runs layout)
TOKENS_POS_SCHEMA = StructType(
    TOKENS_SCHEMA.fields + [StructField("pos", BinaryType())]
)
STAGED_TOKENS_POS_SCHEMA = StructType(
    TOKENS_POS_SCHEMA.fields + [StructField("term_bucket", IntegerType())]
)

# staging_format="blobs": one row per (tokenize batch x term bucket), the
# four token columns packed columnar into a single binary. The Python->JVM
# Arrow return and the bucket exchange then move thousands of blob rows
# instead of one row per (doc, term) — the r4 BENCH_SCALING decomposition
# showed the staging leg flat at 8->32 cores with per-token rows while the
# pure-JVM shuffle probe scaled at 0.51; blobs shrink the per-row machinery
# (UnsafeRow conversion, exchange hashing, parquet column encode) to noise
# while moving the same token bytes.
TOKEN_BLOB_MAGIC = b"PTB1"
TOKEN_BLOB_MAGIC_POS = b"PTB2"  # v2: + per-run position byte widths/stream
# stats_* (r6): per-blob term-stats PARTIALS (distinct term ids with
# their within-blob df/cf) ride as plain array columns next to the
# packed blob. Stage-2 term stats then read ONLY these pruned columns
# with a JVM explode+agg — the previous shape re-read and unpacked every
# blob's full token payload in a Python pass just to count terms.
TOKEN_BLOBS_SCHEMA = StructType(
    [
        StructField("term_bucket", IntegerType()),
        StructField("n", LongType()),
        StructField("blob", BinaryType()),
        StructField("stats_terms", ArrayType(IntegerType())),
        StructField("stats_dfs", ArrayType(IntegerType())),
        StructField("stats_cfs", ArrayType(LongType())),
    ]
)

POSTINGS_SCHEMA = StructType(
    [
        StructField("term_id", IntegerType()),
        StructField("salt", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("n", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
        StructField("doc_gaps", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("dls", BinaryType()),
        # NULL on tf-only builds; the concatenated per-posting position
        # streams (codec module doc) when built with store_positions
        StructField("positions", BinaryType()),
        StructField("max_tf", IntegerType()),
        StructField("max_impact", DoubleType()),
    ]
)

# postings as read back: the bucket partition column recovered from paths
STORED_POSTINGS_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields + [StructField("term_bucket", IntegerType())]
)

# term_stats as _build_from_tokens writes it
TERM_STATS_SCHEMA = StructType(
    [
        StructField("term_id", IntegerType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("term_bucket", IntegerType()),
    ]
)


def tokens_long(pages: DataFrame, vocab: Vocab, text_col: str = "text",
                with_positions: bool = False) -> DataFrame:
    """pages(doc_id, text) → long-format tokens (doc_id, term_id, tf, dl).

    Narrow mapInPandas (flatMap shape): per-doc unique-term counts computed
    inside the Arrow batch with NumPy — the relational equivalent
    (explode + groupBy, SURVEY.md F2) would shuffle every token; this emits
    pre-aggregated (doc, term) rows and shuffles nothing.
    dl = total in-vocab token count (the BM25 dl statistic).

    with_positions adds a `pos` binary: the (doc, term)'s token positions
    already delta+varbyte encoded HERE, in the narrow stage — the build's
    one wide exchange then ships compressed position bytes, and the block
    encoder just concatenates slices (zero re-encoding). Positions are
    ordinals over the NON-EMPTY token stream: real words — including OOV
    words, which produce no posting — advance positions, but empty-string
    split artifacts from separator runs (double spaces, blank lines) do
    NOT (the Lucene position-increment semantics; review finding — raw
    split ordinals made 'open\\n\\nsource' non-adjacent and silently broke
    phrase recall on real extracted web text).
    """
    spark = pages.sparkSession
    b_terms = spark.sparkContext.broadcast(list(vocab.terms))

    def _tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab_index = pd.Index(b_terms.value)
        for pdf in batches:
            out = tokenize_batch_kernel(pdf, vocab_index, text_col,
                                        with_positions)
            if out is not None:
                yield pd.DataFrame(out)

    schema = TOKENS_POS_SCHEMA if with_positions else TOKENS_SCHEMA
    return pages.select("doc_id", text_col).mapInPandas(_tok, schema)


# one-entry cache: the vocab Index -> its Arrow array (workers hit this
# once per batch; rebuilding a large vocab array per batch would dominate).
# The cached value holds a strong reference to the Index itself: keying by
# id() alone would alias a DIFFERENT vocab allocated at a recycled address
# after the original was garbage-collected.
_VOCAB_PA_CACHE: dict[int, tuple[object, object]] = {}


def tokenize_batch_kernel(
    pdf: pd.DataFrame,
    vocab_index: pd.Index,
    text_col: str = "text",
    with_positions: bool = False,
    flat_positions: bool = False,
) -> dict | None:
    """The per-batch tokenize kernel, module-level so the SAME code runs
    both inside the Spark mapInPandas path (tokens_long) and in the
    no-Spark multiprocessing control of scripts/scaling_bench.py — the
    control's point is that any scaling falloff it shows is the VM's
    per-core kernel ceiling, not the engine, which only holds if the
    kernel is literally shared.

    r4 kernel: tokenization and vocab lookup run in Arrow compute
    (split_pattern / list_flatten / index_in — contiguous buffers, no
    per-token Python objects), and the (doc, term) counting is an
    np.bincount over the composite key instead of an O(n log n)
    np.unique sort. Profiled on 8k web docs / 11.8M tokens: pandas
    split+flatten+get_indexer 4.0 s -> 0.6 s, unique 4.0 s -> ~0.1 s.
    Output is bit-identical to the pandas kernel (ids/lens parity
    asserted when the rewrite landed; the python-oracle pytest pins it).
    """
    import pyarrow as pa

    if pdf.empty:
        return None
    texts = pa.array(pdf[text_col].fillna("").astype(str),
                     type=pa.string())
    doc_ids = pdf["doc_id"].to_numpy()
    return tokenize_core(texts, doc_ids, vocab_index, with_positions,
                         flat_positions)


def tokenize_core(
    texts,
    doc_ids: np.ndarray,
    vocab_index: pd.Index,
    with_positions: bool = False,
    flat_positions: bool = False,
) -> dict | None:
    """The Arrow-native tokenize core shared by the pandas wrapper above,
    the mapInArrow blob path (tokens_blobs) and build_signatures' sibling
    kernel. texts: a pyarrow string array (nulls allowed — treated as
    empty); doc_ids: aligned numpy array."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pears_fruit_fly_spark.operators.codec import (
        encode_position_runs_concat,
    )

    V = len(vocab_index)
    n_rows = len(texts)
    if n_rows == 0:
        return None
    # vocab as an Arrow array, cached per vocab object (workers reuse the
    # same Index across every batch of the stage)
    vkey = id(vocab_index)
    entry = _VOCAB_PA_CACHE.get(vkey)
    if entry is None or entry[0] is not vocab_index:
        cached = pa.array(vocab_index.tolist(), type=pa.string())
        _VOCAB_PA_CACHE.clear()  # hold one vocab at a time
        _VOCAB_PA_CACHE[vkey] = (vocab_index, cached)
    else:
        cached = entry[1]
    texts = pc.fill_null(texts, "")
    split = pc.split_pattern(
        pc.replace_substring(texts, "\n", " "), " "
    )
    lens = pc.list_value_length(split).to_numpy().astype(np.int64)
    if lens.sum() == 0:
        return None
    flat_pa = pc.list_flatten(split)
    # index_in: vectorized hash lookup; null (= OOV or "" artifact) -> -1
    ids = pc.index_in(flat_pa, value_set=cached).fill_null(-1).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    mask = ids >= 0
    if not mask.any():
        return None
    doc_idx = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    doc_sel = doc_idx[mask]
    id_sel = ids[mask]
    # dl = in-vocab token count per doc (BM25 dl statistic)
    dl_per_doc = np.bincount(doc_sel, minlength=n_rows)
    # tf per (doc, term) in one pass: composite int64 key. Counting via
    # bincount (O(n + batch_docs*V)) when the counter table is small
    # enough; np.unique's sort only as the huge-vocab fallback.
    # counter-table cap 1<<24 = 128 MiB of int64 per batch; on a 32-core
    # executor every concurrent Python worker allocates one, so the old
    # 1<<26 (512 MiB each) was a multi-GiB transient spike (ADVICE r4) —
    # np.unique is only modestly slower at the crossover size
    key = doc_sel * V + id_sel
    if n_rows * V <= (1 << 24):
        cnt = np.bincount(key, minlength=n_rows * V)
        uniq = np.flatnonzero(cnt)
        counts = cnt[uniq]
    else:
        uniq, counts = np.unique(key, return_counts=True)
    out_doc_idx = uniq // V
    out = {
        "doc_id": np.asarray(doc_ids)[out_doc_idx],
        "term_id": (uniq % V).astype(np.int32),
        "tf": counts.astype(np.int32),
        "dl": dl_per_doc[out_doc_idx].astype(np.int64),
    }
    if with_positions:
        # position = ordinal among the doc's NON-EMPTY tokens; flat
        # order is position order, so a stable key sort groups each
        # (doc, term)'s positions ascending — matching np.unique's
        # group order exactly. In-vocab tokens are never empty, so
        # the masked selection always has a defined position.
        nonempty = pc.not_equal(flat_pa, "").to_numpy(
            zero_copy_only=False
        )
        ne_cum = np.cumsum(nonempty, dtype=np.int64)  # 1-based rank
        doc_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        # lens >= 1 always ('' splits to ['']), so doc_starts[1:]-1
        # never underflows
        base = np.repeat(
            np.concatenate([[0], ne_cum[doc_starts[1:] - 1]]), lens
        )
        pos_all = ne_cum - 1 - base
        pos_sorted = pos_all[mask][np.argsort(key, kind="stable")]
        stream, run_lens = encode_position_runs_concat(pos_sorted, counts)
        if flat_positions:
            # blob staging consumes the stream whole — zero per-run objects
            out["pos_stream"] = np.frombuffer(stream, dtype=np.uint8)
            out["pos_lens"] = run_lens
        else:
            b_off = np.concatenate([[0], np.cumsum(run_lens)])
            out["pos"] = [
                stream[int(b_off[i]) : int(b_off[i + 1])]
                for i in range(run_lens.size)
            ]
    return out


def tokens_long_jvm(
    pages: DataFrame, vocab: Vocab, text_col: str = "text"
) -> DataFrame:
    """JVM-only tokens_long for the whitespace tokenizer: split → explode →
    broadcast vocab join → ONE exchange. Zero Python in the path, fully
    whole-stage-codegen.

    Physical shape: repartition the in-vocab (doc_id, term_id) pairs by
    doc_id FIRST; HashPartitioning(doc_id) satisfies the clustering
    requirement of both the (doc_id, term_id) hash agg (subset of grouping
    keys) and the dl window (exact match), so tf and dl ride the same single
    exchange. The previous form (agg shuffle on the pair key, then a second
    Window.partitionBy(doc_id) shuffle of all tf rows) paid two exchanges.

    Semantics identical to tokens_long (verified in tests): split on
    space/newline, drop empties, drop OOV, tf per (doc, term),
    dl = total in-vocab tokens. tokens_long (vectorized Arrow path) computes
    both stats narrowly with NO exchange and is the build default; this is
    the all-JVM alternative for clusters where Python workers are scarce.
    """
    spark = pages.sparkSession
    vdf = vocab_to_df_minimal(spark, vocab)
    toks = pages.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col(text_col), "[ \n]"), lambda t: t != "")
        ).alias("term"),
    )
    hits = toks.join(F.broadcast(vdf), "term").select("doc_id", "term_id")
    clustered = hits.repartition("doc_id")
    tf = clustered.groupBy("doc_id", "term_id").agg(
        F.count("*").cast("int").alias("tf")
    )
    from pyspark.sql.window import Window

    dl = F.sum("tf").over(Window.partitionBy("doc_id")).cast("long")
    return tf.select("doc_id", "term_id", "tf", dl.alias("dl"))


def vocab_to_df_minimal(spark: SparkSession, vocab: Vocab) -> DataFrame:
    """(term, term_id) dimension for the broadcast tokenize join.

    Schema is explicit: with Arrow conversion disabled (a vanilla session —
    not our session.py defaults), createDataFrame(pandas) infers numpy int32
    as LongType, which then poisons the staged-tokens parquet with INT64
    term_id and makes the stage-2 re-read under the explicit INT32
    STAGED_TOKENS_SCHEMA throw SchemaColumnConvertNotSupportedException.
    """
    return spark.createDataFrame(
        pd.DataFrame(
            {"term": vocab.terms, "term_id": np.arange(vocab.size, dtype=np.int32)}
        ),
        schema="term string, term_id int",
    )


_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)


def _xxh_fmix(acc: np.ndarray) -> np.ndarray:
    acc ^= acc >> np.uint64(33)
    acc *= _XXH_P2
    acc ^= acc >> np.uint64(29)
    acc *= _XXH_P3
    acc ^= acc >> np.uint64(32)
    return acc


def _xxh_rotl(v: np.ndarray, r: int) -> np.ndarray:
    return (v << np.uint64(r)) | (v >> np.uint64(64 - r))


def xxhash64_long(x: np.ndarray, seed: int = 42) -> np.ndarray:
    """Vectorized replica of Spark's ``xxhash64`` over a LongType column
    (XXH64 ``hashLong``: the value as 8 bytes, Spark's default seed 42)."""
    with np.errstate(over="ignore"):
        acc = np.uint64(seed) + _XXH_P5 + np.uint64(8)
        k1 = _xxh_rotl(
            x.astype(np.int64).view(np.uint64) * _XXH_P2, 31
        ) * _XXH_P1
        acc = acc ^ k1
        acc = _xxh_rotl(acc, 27) * _XXH_P1 + _XXH_P4
        acc = _xxh_fmix(acc)
    return acc.view(np.int64)


def xxhash64_int(x: np.ndarray, seed: int = 42) -> np.ndarray:
    """Vectorized replica of Spark's ``xxhash64`` over an IntegerType
    column (XXH64 ``hashInt``: the value zero-extended to an unsigned
    4-byte word — NOT the same stream as hashLong of the same value).

    This is the variant that matters for bucketing: term_id is
    IntegerType in every staged/stats schema, so the JVM expression
    ``pmod(xxhash64(term_id), P)`` takes the int path. Round 5 found
    multi-round blob builds silently losing postings because the packer
    bucketed with the LONG variant: a term staged under its Python
    bucket but rewritten under its (different) JVM bucket was clobbered
    when a later encode round dynamically overwrote that partition."""
    with np.errstate(over="ignore"):
        u = x.astype(np.int32).view(np.uint32).astype(np.uint64)
        acc = np.uint64(seed) + _XXH_P5 + np.uint64(4)
        acc = acc ^ (u * _XXH_P1)
        acc = _xxh_rotl(acc, 23) * _XXH_P2 + _XXH_P3
        acc = _xxh_fmix(acc)
    return acc.view(np.int64)


def term_buckets_py(term_ids: np.ndarray, P: int) -> np.ndarray:
    """pmod(xxhash64(term_id), P) for an INT term_id column — the Python
    twin of the JVM bucket expression used everywhere else in the
    build/query path (parity pinned in tests/test_blob_staging.py)."""
    h = xxhash64_int(term_ids)
    return ((h % P) + P) % P


def pack_token_blobs(out: dict, P: int) -> pd.DataFrame:
    """Tokenize-kernel output dict -> one TOKEN_BLOBS_SCHEMA row per term
    bucket present in the batch. Blob layout (little-endian, columnar):

        magic 'PTB1' | n uint64 | doc_id int64[n] | term_id int32[n]
                     | tf int32[n] | dl int64[n]

    Positional batches (out carries pos_stream/pos_lens — the flat
    varbyte position runs of tokenize_batch_kernel) use the v2 layout,
    which appends the per-run byte widths and the reordered stream:

        magic 'PTB2' | ...PTB1 fields... | pos_len int32[n] | pos bytes

    Runs are re-gathered into bucket order with one vectorized byte
    gather (codec.gather_byte_runs) — no per-run Python objects anywhere
    on the positional staging path (r6: the per-(doc,term) bytes slicing
    plus per-row staging machinery WAS the positional build's dominant
    stage)."""
    from pears_fruit_fly_spark.operators.codec import gather_byte_runs

    term = np.ascontiguousarray(out["term_id"], dtype=np.int32)
    bucket = term_buckets_py(term, P)
    order = np.argsort(bucket, kind="stable")
    b_sorted = bucket[order]
    doc = np.ascontiguousarray(out["doc_id"], dtype=np.int64)[order]
    term = term[order]
    tf = np.ascontiguousarray(out["tf"], dtype=np.int32)[order]
    dl = np.ascontiguousarray(out["dl"], dtype=np.int64)[order]
    with_pos = "pos_stream" in out
    if with_pos:
        pos_stream, pos_lens = gather_byte_runs(
            np.asarray(out["pos_stream"], dtype=np.uint8),
            np.asarray(out["pos_lens"], dtype=np.int64),
            order,
        )
        pos_off = np.concatenate([[0], np.cumsum(pos_lens)])
    starts = np.flatnonzero(
        np.concatenate([[True], b_sorted[1:] != b_sorted[:-1]])
    )
    ends = np.append(starts[1:], b_sorted.size)
    buckets, ns, blobs = [], [], []
    st_terms, st_dfs, st_cfs = [], [], []
    for s, e in zip(starts, ends):
        n = int(e - s)
        parts = [
            TOKEN_BLOB_MAGIC_POS if with_pos else TOKEN_BLOB_MAGIC,
            np.uint64(n).tobytes(),
            doc[s:e].tobytes(),
            term[s:e].tobytes(),
            tf[s:e].tobytes(),
            dl[s:e].tobytes(),
        ]
        if with_pos:
            parts.append(pos_lens[s:e].astype(np.int32).tobytes())
            parts.append(
                pos_stream[int(pos_off[s]) : int(pos_off[e])].tobytes()
            )
        buckets.append(int(b_sorted[s]))
        ns.append(n)
        blobs.append(b"".join(parts))
        # per-blob term-stats partials (see TOKEN_BLOBS_SCHEMA note)
        uniq, inv = np.unique(term[s:e], return_inverse=True)
        st_terms.append(uniq.astype(np.int32).tolist())
        st_dfs.append(np.bincount(inv, minlength=uniq.size)
                      .astype(np.int32).tolist())
        st_cfs.append(
            np.bincount(inv, weights=tf[s:e].astype(np.float64),
                        minlength=uniq.size).astype(np.int64).tolist()
        )
    return pd.DataFrame(
        {"term_bucket": np.asarray(buckets, dtype=np.int32),
         "n": np.asarray(ns, dtype=np.int64),
         "blob": blobs,
         "stats_terms": st_terms,
         "stats_dfs": st_dfs,
         "stats_cfs": st_cfs}
    )


def token_blob_batch(out: dict, P: int):
    """pack_token_blobs as one Arrow record batch (the mapInArrow form)."""
    import pyarrow as pa

    schema = pa.schema(
        [("term_bucket", pa.int32()), ("n", pa.int64()),
         ("blob", pa.binary()),
         ("stats_terms", pa.list_(pa.int32())),
         ("stats_dfs", pa.list_(pa.int32())),
         ("stats_cfs", pa.list_(pa.int64()))]
    )
    return pa.RecordBatch.from_pandas(pack_token_blobs(out, P),
                                      schema=schema, preserve_index=False)


def unpack_token_blob(blob: bytes):
    """blob -> (doc int64[n], term int32[n], tf int32[n], dl int64[n],
    pos_lens int64[n] | None, pos_stream uint8[] | None). The two
    position fields are None for tf-only (PTB1) blobs."""
    magic = blob[:4]
    if magic not in (TOKEN_BLOB_MAGIC, TOKEN_BLOB_MAGIC_POS):
        raise ValueError(
            f"bad token-blob magic {magic!r} (expected {TOKEN_BLOB_MAGIC!r}"
            f" or {TOKEN_BLOB_MAGIC_POS!r})"
        )
    n = int(np.frombuffer(blob, np.uint64, 1, 4)[0])
    off = 12
    doc = np.frombuffer(blob, np.int64, n, off)
    off += 8 * n
    term = np.frombuffer(blob, np.int32, n, off)
    off += 4 * n
    tf = np.frombuffer(blob, np.int32, n, off)
    off += 4 * n
    dl = np.frombuffer(blob, np.int64, n, off)
    if magic == TOKEN_BLOB_MAGIC:
        return doc, term, tf, dl, None, None
    off += 8 * n
    pos_lens = np.frombuffer(blob, np.int32, n, off).astype(np.int64)
    off += 4 * n
    pos_stream = np.frombuffer(blob, np.uint8, int(pos_lens.sum()), off)
    return doc, term, tf, dl, pos_lens, pos_stream


def tokens_blobs(pages: DataFrame, vocab: Vocab, P: int,
                 text_col: str = "text",
                 with_positions: bool = False) -> DataFrame:
    """Fused tokenize + per-bucket blob pack in ONE Python eval: the
    staging_format="blobs" twin of tokens_long. The pack happens before
    rows leave the tokenize worker, so the Arrow return carries
    ~(batches x buckets) blob rows instead of one row per (doc, term).
    with_positions (r6) packs the varbyte position runs as ONE flat
    stream per blob (PTB2) — the positional build stages the same way."""
    spark = pages.sparkSession
    b_terms = spark.sparkContext.broadcast(list(vocab.terms))

    def _tok(batches):
        import pyarrow as pa

        vocab_index = pd.Index(b_terms.value)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            # mapInArrow (r6): texts reach the kernel as Arrow buffers —
            # the mapInPandas form materialized every text as a Python
            # str per batch on the way in
            texts = rb.column(rb.schema.get_field_index(text_col)).cast(
                pa.string()
            )
            doc_ids = rb.column(
                rb.schema.get_field_index("doc_id")
            ).to_numpy(zero_copy_only=False)
            out = tokenize_core(texts, doc_ids, vocab_index,
                                with_positions, flat_positions=True)
            if out is not None:
                yield token_blob_batch(out, P)

    return pages.select("doc_id", text_col).mapInArrow(
        _tok, TOKEN_BLOBS_SCHEMA
    )


def rows_to_blobs(tokens: DataFrame, P: int) -> DataFrame:
    """Generic TOKENS_SCHEMA / TOKENS_POS_SCHEMA rows -> blob rows (one
    extra Python hop; used where the token source is a row DataFrame: the
    merge path when its tombstones exceed TOMBSTONE_DRIVER_MAX and must be
    anti-joined — positional rows re-pack their pos slices into PTB2)."""
    with_pos = "pos" in tokens.columns

    def _pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = {c: pdf[c].to_numpy() for c in
                   ("doc_id", "term_id", "tf", "dl")}
            if with_pos:
                bufs = [bytes(x) for x in pdf["pos"]]
                out["pos_lens"] = np.fromiter(
                    (len(x) for x in bufs), dtype=np.int64, count=len(bufs)
                )
                out["pos_stream"] = np.frombuffer(
                    b"".join(bufs), dtype=np.uint8
                )
            yield pack_token_blobs(out, P)

    return tokens.mapInPandas(_pack, TOKEN_BLOBS_SCHEMA)


def blob_term_stats(staged: DataFrame) -> DataFrame:
    """(term_id, df, cf) from staged blob rows.

    The per-blob partials were computed at PACK time and ride as plain
    array columns (TOKEN_BLOBS_SCHEMA), so this is a pure-JVM
    explode+agg that reads ONLY the pruned stats columns — the packed
    blob payload (the bulk of the staging bytes) never leaves parquet
    (r6; the previous shape unpacked every blob in a Python pass just to
    recount terms it had already counted once)."""
    z = staged.select(
        F.explode(
            F.arrays_zip("stats_terms", "stats_dfs", "stats_cfs")
        ).alias("z")
    ).select(
        F.col("z.stats_terms").alias("term_id"),
        F.col("z.stats_dfs").cast("long").alias("df"),
        F.col("z.stats_cfs").alias("cf"),
    )
    return z.groupBy("term_id").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )


def _binary_values(arr) -> tuple[np.ndarray, np.ndarray]:
    """A pyarrow binary array -> (its payloads concatenated as one uint8
    array, per-value byte lengths), read zero-copy from the Arrow
    buffers (a null counts as empty)."""
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, off_buf, data = arr.buffers()
    off = np.frombuffer(off_buf, dtype=width)[arr.offset : arr.offset + n + 1]
    values = (np.frombuffer(data, dtype=np.uint8)[off[0] : off[-1]]
              if data is not None else np.zeros(0, dtype=np.uint8))
    return values, np.diff(off).astype(np.int64)


def _bucket_encoder(staging_dir: str, salt_items: list[tuple[int, int]],
                    avgdl: float, bm25: BM25Config, block_size: int,
                    with_positions: bool = False,
                    flat_staging: bool = False,
                    filesystem=None,
                    staging_format: str = "rows"):
    """mapInPandas body over encode-task specs (term_bucket, shard,
    n_shards): each task reads its bucket's staged parquet DIRECTLY with
    pyarrow inside the Python worker, applies the salt plan, sorts with
    one numpy lexsort, and encodes every (term, salt) run of the spec in
    one codec.encode_runs pass — one output frame per spec.

    Why the input no longer streams through the JVM: profiling the r3
    pipeline showed the JVM->Python Arrow feed of staged token rows capped
    at ~3M rows/s REGARDLESS of core count (pure-JVM exchange: scales;
    encode kernel: scales; the row feed: flat) — it WAS the whole
    0.33-efficiency index-build leg in BENCH_SCALING. With bucket-aligned
    tasks the bulk token bytes never cross the process boundary: Arrow
    carries only the task specs in (three ints) and the compressed blocks
    out (~1/30 of the input bytes). Workers read staging from the same
    shared filesystem the index lives on — exactly what the driver-side
    scan read before, moved to where the data is consumed.

    Sharding (n_shards > 1) splits oversized buckets by a hash of
    (term_id, salt), so every (term, salt) run stays whole within one
    task and the block layout is byte-identical for ANY shard count; each
    shard re-reads its bucket's parquet (columnar scan, cheap relative to
    the encode) and keeps only its runs.

    ``filesystem`` (r5): optional picklable ``pyarrow.fs.FileSystem``
    (e.g. an S3FileSystem carrying assumed-role credentials, a
    SubTreeFileSystem, or a PyFileSystem wrapping a custom handler) used
    for the worker-side staged-bucket reads. Real clusters often hold
    object-store credentials in Hadoop/Spark conf that pyarrow's
    from-URI resolution cannot see — this is the injection point. None
    (default) keeps pyarrow's own path→filesystem inference. Paths are
    handed to the filesystem verbatim minus any ``scheme://`` prefix.

    Memory: buckets stream through ``dataset.scanner().to_batches()``
    with the shard keep-mask applied per batch, so a task's peak is its
    KEPT rows plus one Arrow batch — not the whole bucket times
    n_shards concurrent readers (ADVICE r4).

    Position runs stay ONE flat uint8 stream + per-posting byte widths
    end to end, for both staging layouts (PTB2 blobs, or the row layout's
    binary `pos` column read from its Arrow buffers): vectorized gathers
    apply the shard mask and the sort, encode_runs slices block
    boundaries — no per-posting bytes objects.
    """
    salt_ids = np.array(sorted(t for t, _ in salt_items), dtype=np.int64)
    salt_ns = np.array(
        [n for _, n in sorted(salt_items)], dtype=np.int64
    )
    blobs = staging_format == "blobs"

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.dataset as pads

        from pears_fruit_fly_spark.operators.codec import (
            encode_runs,
            gather_byte_runs,
        )

        if blobs:
            cols = ["blob"]
        else:
            cols = ["doc_id", "term_id", "tf", "dl"] + (
                ["pos"] if with_positions else []
            )
        field_order = [f.name for f in POSTINGS_SCHEMA.fields]

        def _batch_cols(rb):
            """Uniform per-batch column dicts for both staging layouts:
            row staging yields the record batch's columns once; blob
            staging yields one dict per packed blob (the downstream
            salt/shard/keep logic is layout-agnostic)."""
            if blobs:
                for cell in rb.column("blob"):
                    d, t, tf_, dl_, plens, pstream = unpack_token_blob(
                        cell.as_py()
                    )
                    yield {"doc_id": d, "term_id": t.astype(np.int64),
                           "tf": tf_, "dl": dl_,
                           "pos_lens": plens, "pos_stream": pstream}
            else:
                out = {c: rb.column(c).to_numpy(zero_copy_only=False)
                       for c in ("doc_id", "term_id", "tf", "dl")}
                out["term_id"] = out["term_id"].astype(np.int64)
                if with_positions:
                    out["pos_stream"], out["pos_lens"] = _binary_values(
                        rb.column("pos")
                    )
                yield out

        def _fs_path(p: str) -> str:
            # with an injected filesystem, paths are handed to it verbatim
            # minus the scheme prefix (an S3FileSystem wants bucket/key,
            # not s3://bucket/key); without one, pyarrow resolves the
            # filesystem from the URI itself
            if filesystem is None:
                return p
            i = p.find("://")
            return p[i + 3:] if i > 0 else p

        for spec_pdf in batches:
            for b, shard, n_shards in zip(
                spec_pdf["term_bucket"], spec_pdf["shard"],
                spec_pdf["n_shards"]
            ):
                # storage-agnostic bucket read: URI schemes stay intact
                # (s3://... stays s3://...) unless an explicit filesystem
                # carries the credentials. A bucket absent from staging
                # (possible only on a resumed partial run) reads as empty.
                try:
                    if flat_staging:
                        # small-corpus layout: whole staging is a few
                        # plain files with term_bucket as a column —
                        # filter this task's bucket (pushdown via
                        # rowgroup stats where available)
                        import pyarrow.compute as pc_
                        scan = pads.dataset(
                            _fs_path(staging_dir), format="parquet",
                            filesystem=filesystem,
                        ).scanner(
                            columns=cols,
                            filter=pc_.field("term_bucket") == int(b),
                        )
                    else:
                        path = (staging_dir.rstrip("/")
                                + f"/term_bucket={int(b)}")
                        scan = pads.dataset(
                            _fs_path(path), format="parquet",
                            filesystem=filesystem,
                        ).scanner(columns=cols)
                except FileNotFoundError:
                    continue
                # stream the bucket batch-by-batch, applying salt + shard
                # keep-mask per batch: peak task memory = kept rows + one
                # Arrow batch, regardless of bucket size or shard count
                names = ["doc_id", "term_id", "salt", "tf", "dl"] + (
                    ["pos_stream", "pos_lens"] if with_positions else []
                )
                kept: dict[str, list[np.ndarray]] = {c: [] for c in names}
                for rb in scan.to_batches():
                    if rb.num_rows == 0:
                        continue
                    for cb in _batch_cols(rb):
                        doc_b = cb["doc_id"]
                        term_b = cb["term_id"]
                        if term_b.size == 0:
                            continue
                        # salt = doc_id % n_salts(term); non-skewed -> 1
                        nsal = np.ones(term_b.size, dtype=np.int64)
                        if salt_ids.size:
                            ix = np.searchsorted(salt_ids, term_b)
                            ix[ix == salt_ids.size] = 0
                            hit = salt_ids[ix] == term_b
                            nsal[hit] = salt_ns[ix[hit]]
                        cb["salt"] = (doc_b % nsal).astype(np.int64)
                        if int(n_shards) > 1:
                            h = (
                                term_b.astype(np.uint64)
                                * np.uint64(0x9E3779B97F4A7C15)
                            ) ^ (
                                cb["salt"].astype(np.uint64)
                                * np.uint64(0xBF58476D1CE4E5B9)
                            )
                            keep = np.flatnonzero(
                                (h % np.uint64(int(n_shards)))
                                == np.uint64(int(shard))
                            )
                            if not keep.size:
                                continue
                            if with_positions:
                                cb["pos_stream"], cb["pos_lens"] = (
                                    gather_byte_runs(cb["pos_stream"],
                                                     cb["pos_lens"], keep)
                                )
                            for c in ("doc_id", "term_id", "salt", "tf",
                                      "dl"):
                                cb[c] = cb[c][keep]
                        for c in names:
                            kept[c].append(cb[c])
                if not kept["doc_id"]:
                    continue
                cat = {c: np.concatenate(v) for c, v in kept.items()}
                order = np.lexsort((cat["doc_id"], cat["salt"],
                                    cat["term_id"]))
                pos_stream = pos_lens = None
                if with_positions:
                    # ONE vectorized byte gather re-sorts every position
                    # run into (term, salt, doc) order alongside the rows
                    pos_stream, pos_lens = gather_byte_runs(
                        cat["pos_stream"], cat["pos_lens"], order
                    )
                cols_out = encode_runs(
                    cat["term_id"][order], cat["salt"][order],
                    cat["doc_id"][order], cat["tf"][order],
                    cat["dl"][order], avgdl, bm25.k1, bm25.b, block_size,
                    pos_stream, pos_lens,
                )
                yield pd.DataFrame(cols_out, columns=field_order)

    return _encode


def _corpus_fingerprint_row(pages_with_ids: DataFrame, text_col: str = "text"):
    """One narrow agg: corpus row count + order-insensitive content hash +
    doc-id extrema (max_doc feeds the query-time doc-range scatter; min_doc
    feeds the append-segment disjointness check)."""
    return pages_with_ids.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64(doc_id, length({text_col})))").alias("h"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    ).collect()[0]


def corpus_fingerprint(pages_with_ids: DataFrame, text_col: str = "text") -> str:
    """Order-insensitive fingerprint of the (doc_id -> content) mapping.

    count + bit_xor of xxhash64(doc_id, length(text)): catches added/removed
    docs AND doc-id reassignment (the silent-corruption mode of re-calling a
    build with changed pages, ADVICE r1) without a full text re-hash — one
    narrow two-column agg. Identical text lengths under the same ids are
    treated as the same corpus (documented contract)."""
    row = _corpus_fingerprint_row(pages_with_ids, text_col)
    return f"{int(row['n'])}:{row['h'] if row['h'] is not None else 0}"


def build_postings(
    spark: SparkSession,
    pages_with_ids: DataFrame,
    vocab: Vocab,
    index_dir: str,
    bm25: BM25Config = BM25Config(),
    cfg: PostingsConfig = PostingsConfig(),
    text_col: str = "text",
) -> dict:
    """Full resumable index build. pages_with_ids must carry (doc_id, text).

    Returns the build_info dict (N, avgdl, paths, timings). Idempotent:
    re-invocation with the SAME corpus skips buckets already recorded in the
    manifest (resume of an interrupted build). Re-invocation with a CHANGED
    corpus fails fast on the recorded corpus fingerprint — doc ids would be
    reassigned and completed buckets would silently key postings by stale
    ids (ADVICE r1). True index append is append_postings (segment-based);
    signature append is the incremental pods path (operators/pods.py).
    """
    _check_staging_cfg(cfg)
    # ONE pass serves the fingerprint check, n_docs AND doc-id extrema —
    # submitted on a driver thread so it runs CONCURRENTLY with the
    # staging job of a fresh build (guide §2.6 overlap): both actions
    # evaluate the caller's upstream lineage (typically a dedup window +
    # id join over the full corpus), and running them back to back paid
    # that subtree twice in sequence. _build_from_tokens joins the future
    # exactly where the values are first needed (the resume fingerprint
    # check, or the build-info write after staging).
    fp_future = _FP_EXECUTOR.submit(
        _corpus_fingerprint_row, pages_with_ids, text_col
    )

    def tokens_factory() -> DataFrame:
        if resolve_staging_format(cfg) == "blobs":
            # fused tokenize + per-bucket pack in one Python eval
            return tokens_blobs(pages_with_ids, vocab, cfg.num_partitions,
                                text_col,
                                with_positions=cfg.store_positions)
        if cfg.jvm_tokenizer and not cfg.store_positions:
            return tokens_long_jvm(pages_with_ids, vocab, text_col)
        # positions need the full token stream — only the Arrow path has it
        return tokens_long(pages_with_ids, vocab, text_col,
                           with_positions=cfg.store_positions)

    info = _build_from_tokens(
        spark, tokens_factory, None,
        n_docs=None, min_doc=None, max_doc=None,
        vocab_size=vocab.size, index_dir=_live_dir_for_build(index_dir),
        bm25=bm25, cfg=cfg, fp_future=fp_future,
    )
    from pears_fruit_fly_spark.operators.bm25 import invalidate_index_cache

    invalidate_index_cache(index_dir)
    return info


def resolve_staging_format(cfg: PostingsConfig) -> str:
    """"auto" (the default) -> "blobs" whenever the build can use it; the
    packed format packs inside the Python tokenize kernel, so JVM-tokenized
    builds fall back to row staging. Positional builds use blobs too (r6:
    the PTB2 layout carries the varbyte position runs as one flat stream
    per blob — previously the per-(doc,term) row staging was the
    positional build's dominant, non-scaling stage). Explicit values pass
    through (validated by _check_staging_cfg)."""
    if cfg.staging_format == "auto":
        return "rows" if cfg.jvm_tokenizer else "blobs"
    return cfg.staging_format


def _check_staging_cfg(cfg: PostingsConfig) -> None:
    """Fail fast on unusable staging configurations — BEFORE the
    fingerprint scan runs, not three stages into the build."""
    if cfg.staging_format not in ("auto", "rows", "blobs"):
        raise ValueError(
            f"staging_format must be 'auto', 'rows' or 'blobs', "
            f"got {cfg.staging_format!r}"
        )
    if cfg.staging_format == "blobs" and cfg.jvm_tokenizer:
        raise ValueError(
            "staging_format='blobs' packs inside the Python tokenize "
            "kernel and cannot combine with jvm_tokenizer=True"
        )


def _live_dir_for_build(index_dir: str) -> str:
    """Concrete directory a base build writes into: the current version if
    the root is pointer-versioned, the root itself for a legacy flat build
    being resumed, else a fresh _v_00000000 published up front (a crash mid-
    build leaves the pointer at the partial tree and a re-run resumes it —
    identical semantics to the old flat partial build)."""
    cur = cl.current_version(index_dir)
    if cur is not None:
        return os.path.join(index_dir, cur)
    if fsio.exists(os.path.join(index_dir, "_build_info.json")):
        return index_dir
    version = cl.version_name(index_dir)
    cl.publish(index_dir, version)
    live = os.path.join(index_dir, version)
    fsio.makedirs(live)
    return live


def _build_from_tokens(
    spark: SparkSession,
    tokens_factory,
    fingerprint: str | None,
    n_docs: int | None,
    min_doc,
    max_doc,
    vocab_size: int,
    index_dir: str,
    bm25: BM25Config,
    cfg: PostingsConfig,
    fp_future=None,
) -> dict:
    """Stages 0-3 of the build from a long-format token source (callable so
    the resume path never constructs the tokenize plan). Shared by
    build_postings (tokens from pages) and merge_segments (tokens decoded
    from existing segment postings — the multi-way posting merge).

    fp_future (r6): a Future resolving to the corpus-fingerprint row —
    when given, the eager fingerprint/n_docs/min_doc/max_doc args are
    None and the future is joined only where the values are first needed
    (the resume check, or the build-info write AFTER staging), so the
    fingerprint job runs concurrently with the staging job. A deferred
    fresh build writes the partitioned staging layout unconditionally
    (the flat small-corpus layout needed n_docs up front; measured
    equivalent for blob staging at the sizes flat targeted)."""
    t0 = time.time()

    def _fp_values():
        nonlocal fingerprint, n_docs, min_doc, max_doc
        if fingerprint is None:
            row = fp_future.result()
            fingerprint = (
                f"{int(row['n'])}:{row['h'] if row['h'] is not None else 0}"
            )
            n_docs = int(row["n"])
            min_doc, max_doc = row["min_doc"], row["max_doc"]
        return fingerprint, n_docs, min_doc, max_doc
    fsio.makedirs(index_dir)
    staging = os.path.join(index_dir, "_staging_tokens")
    # the postings subdir is pointer-versioned from birth so compaction can
    # later publish a rewritten version atomically (plans/commitlog.py);
    # readers go through read_postings, which resolves the pointer
    postings_root = os.path.join(index_dir, "postings")
    if cl.current_version(postings_root) is None and not fsio.isdir(
        postings_root
    ):
        cl.publish(postings_root, cl.version_name(postings_root))
    postings_dir = cl.resolve(postings_root)
    stats_path = os.path.join(index_dir, "term_stats")
    P = cfg.num_partitions

    done = mf.completed_partitions(spark, index_dir)
    stage_s: dict[str, float] = {}
    bucket_rows_cache: dict[int, int] | None = None  # set on fresh builds
    salt_items_cache: list[tuple[int, int]] | None = None  # ditto
    if not fsio.exists(os.path.join(index_dir, "_build_info.json")):
        # ---- stage 0-1: ONE tokenize pass -> staged tokens ----
        # Tokenization is the expensive scan; everything downstream
        # (term stats, salt plan, encode) reads the compact staged parquet
        # instead of re-tokenizing. Salting moves to encode time — the salt
        # is a pure function of (doc_id, n_salts) so it needs no extra pass.
        ts = time.time()
        tokens = tokens_factory()
        # the factory's output schema decides the staging format: blob
        # sources (tokens_blobs / rows_to_blobs) arrive pre-bucketed by
        # the Python-side xxhash64 twin, row sources get the JVM bucket
        # expression here — both agree bit for bit (parity test-pinned)
        blob_staging = "blob" in tokens.columns
        bucketed = tokens if blob_staging else tokens.withColumn(
            "term_bucket", F.pmod(F.xxhash64("term_id"), F.lit(P)).cast("int")
        )
        # deferred fingerprint (fp_future still in flight): n_docs is
        # unknown at layout time — take the partitioned layout, which is
        # measured equivalent at flat's target sizes under blob staging
        flat_staging = (
            fingerprint is not None
            and n_docs <= cfg.flat_staging_max_docs
        )
        if flat_staging:
            # small corpus/segment: the P-directory layout costs more in
            # commit overhead than it saves — write a few plain files with
            # term_bucket as a physical column; encode tasks filter their
            # bucket from the whole (small) staging (r4)
            (
                bucketed.repartition(max(1, min(P, 8)))
                .write.mode("overwrite")
                .parquet(staging)
            )
        else:
            # THE one wide exchange of the build: co-locate each bucket so
            # every task writes exactly one bucket directory (avoids P^2
            # small files).
            (
                bucketed.repartition(P, "term_bucket")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(staging)
            )
        stage_s["staging"] = time.time() - ts
        ts = time.time()

        # ---- stage 2: stats from the staged tokens (compact re-read) ----
        # explicit schema: an empty corpus leaves no parquet footers to
        # infer from, but must still produce a valid (empty) index
        if blob_staging:
            staged_schema = TOKEN_BLOBS_SCHEMA
        else:
            staged_schema = (STAGED_TOKENS_POS_SCHEMA if cfg.store_positions
                             else STAGED_TOKENS_SCHEMA)
        staged_tokens = spark.read.schema(staged_schema).parquet(staging)
        if blob_staging:
            term_stats = blob_term_stats(staged_tokens)
        else:
            term_stats = staged_tokens.groupBy("term_id").agg(
                F.count("*").alias("df"), F.sum("tf").alias("cf")
            )
        term_stats = term_stats.withColumn(
            # stored alongside stats so query-time partition pruning needs
            # no extra hash job (bm25.py reads df + bucket in ONE lookup)
            "term_bucket", F.pmod(F.xxhash64("term_id"), F.lit(P)).cast("int")
        )
        term_stats.write.mode("overwrite").parquet(stats_path)
        term_stats = spark.read.schema(TERM_STATS_SCHEMA).parquet(stats_path)

        # ONE collect serves total_tokens, the stage-3 bucket inventory AND
        # the salt plan (r6 — previously the per-bucket agg and the
        # head-term salt plan were two separate ~0.4 s scheduling rounds
        # over the same KB-sized stats parquet): a union of the P-row
        # bucket agg with the head-term rows, tagged by a null term_id.
        _bucket_stats_df = (
            term_stats.groupBy("term_bucket")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .select(F.lit(None).cast("int").alias("term_id"),
                    "term_bucket", "df", "cf")
        )
        _head_terms_df = (
            term_stats.filter(F.col("df") > cfg.skew_df_threshold)
            .select("term_id", "term_bucket", "df",
                    F.lit(None).cast("long").alias("cf"))
        )
        _stats_rows = _bucket_stats_df.unionByName(_head_terms_df).collect()
        _bucket_stats = [r for r in _stats_rows if r["term_id"] is None]
        bucket_rows_cache = {
            int(r["term_bucket"]): int(r["df"]) for r in _bucket_stats
        }
        salt_items_cache = sorted(
            (
                int(r["term_id"]),
                n_salts_for_df(int(r["df"]), cfg.max_docs_per_subpartition),
            )
            for r in _stats_rows
            if r["term_id"] is not None
        )
        total_tokens = int(sum(int(r["cf"] or 0) for r in _bucket_stats))
        # join the concurrent fingerprint job here at the latest — its
        # values go into build_info below
        fingerprint, n_docs, min_doc, max_doc = _fp_values()
        # avgdl floor guards the BM25 impact divisor for empty/degenerate
        # corpora (0-token builds produce an empty but valid index)
        avgdl = max(1e-9, total_tokens / max(1, n_docs))
        stage_s["term_stats"] = time.time() - ts
        info = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "k1": bm25.k1,
            "b": bm25.b,
            "block_size": cfg.block_size,
            "num_partitions": P,
            "skew_df_threshold": cfg.skew_df_threshold,
            "max_docs_per_subpartition": cfg.max_docs_per_subpartition,
            "vocab_size": vocab_size,
            "corpus_fingerprint": fingerprint,
            "min_doc": int(min_doc) if min_doc is not None else None,
            "max_doc": int(max_doc) if max_doc is not None else None,
            "store_positions": bool(cfg.store_positions),
            "flat_staging": bool(flat_staging),
            "staging_format": "blobs" if blob_staging else "rows",
        }
        mf.write_build_info(index_dir, info)
    else:
        info = mf.read_build_info(index_dir)
        fingerprint = _fp_values()[0]
        recorded = info.get("corpus_fingerprint")
        if recorded is not None and recorded != fingerprint:
            raise ValueError(
                f"build_postings re-called on {index_dir} with a DIFFERENT "
                f"corpus (fingerprint {fingerprint} != recorded {recorded}). "
                "Resume only works for the same input; for a new corpus use "
                "a fresh index_dir (or delete this one), for appends use the "
                "incremental pods path."
            )
        avgdl = info["avgdl"]

    # ---- stage 3: encode pending buckets in resumable batches ----
    # One Spark job per BATCH of buckets (not per bucket: at P=4096 a
    # bucket-per-job loop is pure scheduler overhead). Manifest rows stay
    # per-bucket, so resume granularity is the bucket; a batch that dies
    # mid-write is simply redone (dynamic partition overwrite = idempotent).
    # on resume, the RECORDED flag governs (a re-run with a different cfg
    # must keep the on-disk layout consistent)
    with_pos = bool(info.get("store_positions", False))
    term_stats_df = spark.read.schema(TERM_STATS_SCHEMA).parquet(stats_path)
    # bucket inventory + per-bucket input row counts come from term_stats
    # (tiny) — fresh builds reuse the stage-2 collect; resume recomputes
    bucket_rows = bucket_rows_cache if bucket_rows_cache is not None else {
        int(r["term_bucket"]): int(r["rows"])
        for r in term_stats_df.groupBy("term_bucket")
        .agg(F.sum("df").alias("rows"))
        .collect()
    }
    # salt plan to the workers as a plain sorted list: skewed terms only
    # (df > threshold), so it is vocab-of-head-terms sized — the same
    # thing the old broadcast-join shipped. Fresh builds reuse the fused
    # stage-2 collect (n_salts_for_df == build_salt_plan's F.ceil: both
    # are float64 division + ceil); resume recomputes from the parquet.
    if salt_items_cache is not None:
        salt_items = salt_items_cache
    else:
        salt_plan = build_salt_plan(
            term_stats_df, info["skew_df_threshold"],
            info.get("max_docs_per_subpartition",
                     cfg.max_docs_per_subpartition),
        )
        salt_items = [
            (int(r["term_id"]), int(r["n_salts"]))
            for r in salt_plan.collect()
        ]
    encode = _bucket_encoder(
        staging, salt_items, avgdl, BM25Config(info["k1"], info["b"]),
        info["block_size"], with_positions=with_pos,
        # the RECORDED layout governs on resume (a re-run must read the
        # staging as it was written)
        flat_staging=bool(info.get("flat_staging", False)),
        filesystem=cfg.staging_filesystem,
        staging_format=info.get("staging_format", "rows"),
    )
    pending = [b for b in sorted(bucket_rows) if b not in done]
    batch_size = cfg.bucket_batch_size or len(pending) or 1

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _encode_pending(
        spark, pending, batch_size, bucket_rows, staging, encode,
        cfg.encode_rows_per_task, P, postings_dir, index_dir, stage_s,
    )
    stage_s["encode"] = stage_s.get("encode", 0.0)
    # every bucket is in the manifest now: the staged tokens are dead
    # weight (an interrupted encode never gets here, so a resume still
    # finds them)
    fsio.remove_any(staging)
    info["build_wall_s"] = time.time() - t0
    info["stage_seconds"] = {k: round(v, 3) for k, v in stage_s.items()}
    # cache eviction is the WRAPPERS' job: _build_from_tokens only ever
    # receives version/segment dirs, which are never _INDEX_CACHE keys
    # (those are the roots callers open) — build_postings / append_postings
    # / merge_segments each invalidate their root after committing
    return info


def _encode_pending(
    spark, pending, batch_size, bucket_rows, staging_dir, encode,
    rows_per_task, P, postings_dir, index_dir, stage_s,
) -> None:
    """Stage-3 body: encode pending buckets in resumable batches.

    Task granularity is (bucket, shard): one spec row per task, each
    reading its bucket's staged parquet inside the Python worker (see
    _bucket_encoder). Buckets above rows_per_task split into
    ceil(rows/rows_per_task) hash-shards so no single task holds a
    monster bucket; P buckets >> cores keeps every core in >1 wave."""
    for start in range(0, len(pending), batch_size):
        batch = pending[start : start + batch_size]
        tb = time.time()
        rows_in = {b: bucket_rows.get(b, 0) for b in batch}
        specs = []
        for b in batch:
            n_shards = max(1, -(-rows_in.get(b, 0) // rows_per_task))
            specs.extend((b, s, n_shards) for s in range(n_shards))
        # one task per spec WITHOUT an exchange: parallelize with explicit
        # slices (the old LocalRelation + repartition paid a round-robin
        # shuffle stage per encode batch just to spread 3-int rows)
        spec_df = spark.createDataFrame(
            spark.sparkContext.parallelize(specs or [(0, 0, 0)],
                                           numSlices=len(specs) or 1),
            "term_bucket int, shard int, n_shards int",
        )
        if not specs:
            spec_df = spec_df.filter(F.lit(False))
        encoded = (
            spec_df.mapInPandas(encode, POSTINGS_SCHEMA)
            .withColumn(
                "term_bucket", F.pmod(F.xxhash64("term_id"), F.lit(P)).cast("int")
            )
        )
        # post-encode bucket shuffle: moves only COMPRESSED block bytes
        # (index-sized, a small fraction of the staged tokens) and collapses
        # the write from n_tasks x buckets files to ONE file per bucket —
        # without it, P=4096 buckets x thousands of encode tasks at the
        # 10^12-doc design point means millions of tiny parquet files.
        # Measured locally: also faster (6.3s -> 4.6s at 20k docs).
        (
            encoded.repartition(len(batch) or 1, "term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(postings_dir)
        )
        stage_s["encode"] = stage_s.get("encode", 0.0) + (time.time() - tb)
        wall_ms = (time.time() - tb) * 1000 / max(1, len(batch))
        # rows_out from the parquet FOOTERS (driver-side metadata reads) —
        # replaces a full re-scan job of the just-written postings (r3).
        # A small thread pool overlaps the per-bucket listdir+footer I/O
        # (r6: 64-4096 sequential metadata reads per batch are latency-
        # bound, not CPU-bound — classic fan-out I/O)
        from concurrent.futures import ThreadPoolExecutor

        def _bucket_manifest(b: int):
            out_path = os.path.join(postings_dir, f"term_bucket={b}")
            bytes_out = 0
            n_rows = 0
            for f in fsio.listdir(out_path):
                if not f.endswith(".parquet"):
                    continue
                fp = os.path.join(out_path, f)
                bytes_out += fsio.getsize(fp)
                n_rows += fsio.parquet_num_rows(fp)
            return mf.manifest_row(
                partition_key=b,
                rows_in=rows_in.get(b, 0),
                rows_out=n_rows,
                bytes_out=bytes_out,
                wall_ms=wall_ms,
                input_fingerprint=f"staging:{b}:rows={rows_in.get(b, 0)}",
            )

        with ThreadPoolExecutor(max_workers=min(16, len(batch) or 1)) as tp:
            rows_mf = list(tp.map(_bucket_manifest, batch))
        mf.append_manifest_rows(spark, index_dir, rows_mf)


SEGMENTS_DIRNAME = "segments"


def list_segments(index_dir: str) -> list[str]:
    """Completed append segments under the LIVE version's segments/, sorted.
    Segments live inside the version tree, so a published merge atomically
    starts with zero segments."""
    root = os.path.join(cl.resolve(index_dir), SEGMENTS_DIRNAME)
    return sorted(
        os.path.join(root, d)
        for d in fsio.listdir(root)
        if d.startswith("seg_")
        and fsio.exists(os.path.join(root, d, "_build_info.json"))
    )


def append_postings(
    spark: SparkSession,
    new_pages_with_ids: DataFrame,
    vocab: Vocab,
    index_dir: str,
    cfg: PostingsConfig | None = None,
    text_col: str = "text",
) -> dict:
    """TRUE incremental append: build a NEW SEGMENT under
    <index_dir>/segments/ instead of mutating the base index (the LSM /
    Iceberg-snapshot shape; closes the ADVICE r1 'appended docs are not
    BM25-searchable' gap). Queries read base + segments merged-on-read with
    EXACT results: per-posting dl travels inside the blocks so scores use
    the new global avgdl directly, and each segment's stored block-max
    bounds are scaled by max(1, avgdl_global/avgdl_segment) — a provable
    upper bound (the impact ratio is monotone in dl with supremum
    avgdl_g/avgdl_s), so WAND pruning stays admissible. Run merge_segments
    periodically to rewrite everything into one base with tight bounds.

    Constraints (enforced): base build must exist; the layout parameters
    (num_partitions, block_size, k1, b) and vocabulary are inherited from
    the base; new doc_ids must all be GREATER than every existing doc id
    (dense append, the docmap contract).

    Idempotent/resumable: the segment directory is named by the new
    corpus's fingerprint, so re-calling with the same pages resumes an
    interrupted segment build and a different corpus gets a fresh segment.
    """
    import hashlib

    live = cl.resolve(index_dir)
    base_info = mf.read_build_info(live)
    if base_info.get("vocab_size") != vocab.size:
        raise ValueError(
            f"append vocabulary size {vocab.size} != base "
            f"{base_info.get('vocab_size')} — segments must share the vocab"
        )
    seg_cfg = PostingsConfig(
        block_size=base_info["block_size"],
        num_partitions=base_info["num_partitions"],
        skew_df_threshold=base_info["skew_df_threshold"],
        max_docs_per_subpartition=(cfg or PostingsConfig()).max_docs_per_subpartition,
        bucket_batch_size=(cfg or PostingsConfig()).bucket_batch_size,
        jvm_tokenizer=(cfg or PostingsConfig()).jvm_tokenizer,
        flat_staging_max_docs=(cfg or PostingsConfig()).flat_staging_max_docs,
        encode_rows_per_task=(cfg or PostingsConfig()).encode_rows_per_task,
        staging_filesystem=(cfg or PostingsConfig()).staging_filesystem,
        # the caller's choice passes through untouched and resolves via
        # resolve_staging_format exactly like a fresh build (ONE source
        # of truth for the rule); positional segments stage as blobs too
        # (PTB2, r6)
        staging_format=(cfg or PostingsConfig()).staging_format,
        # segments inherit the base layout — a positional index stays
        # phrase-queryable across its merged-on-read view
        store_positions=bool(base_info.get("store_positions", False)),
    )
    _check_staging_cfg(seg_cfg)
    fp_row = _corpus_fingerprint_row(new_pages_with_ids, text_col)
    if fp_row["n"] == 0:
        raise ValueError("append_postings called with an empty page set")
    fingerprint = f"{int(fp_row['n'])}:{fp_row['h'] if fp_row['h'] is not None else 0}"
    seg_name = "seg_" + hashlib.sha1(fingerprint.encode()).hexdigest()[:12]
    seg_dir = os.path.join(live, SEGMENTS_DIRNAME, seg_name)
    resuming = fsio.exists(os.path.join(seg_dir, "_build_info.json"))
    if not resuming:
        # disjointness only checked for NEW segments — a resumed segment's
        # ids legitimately precede segments appended after it
        existing_max = max(
            (i.get("max_doc") or -1)
            for i in [base_info]
            + [mf.read_build_info(d) for d in list_segments(index_dir)]
        )
        if fp_row["min_doc"] is not None and int(fp_row["min_doc"]) <= existing_max:
            raise ValueError(
                f"appended doc_ids must be > existing max {existing_max}, got "
                f"min {fp_row['min_doc']} — assign new dense ids after the base"
            )
    bm25 = BM25Config(base_info["k1"], base_info["b"])

    def tokens_factory() -> DataFrame:
        if resolve_staging_format(seg_cfg) == "blobs":
            return tokens_blobs(new_pages_with_ids, vocab,
                                seg_cfg.num_partitions, text_col,
                                with_positions=seg_cfg.store_positions)
        if seg_cfg.jvm_tokenizer and not seg_cfg.store_positions:
            return tokens_long_jvm(new_pages_with_ids, vocab, text_col)
        return tokens_long(new_pages_with_ids, vocab, text_col,
                           with_positions=seg_cfg.store_positions)

    info = _build_from_tokens(
        spark, tokens_factory, fingerprint,
        n_docs=int(fp_row["n"]),
        min_doc=fp_row["min_doc"], max_doc=fp_row["max_doc"],
        vocab_size=vocab.size, index_dir=seg_dir, bm25=bm25, cfg=seg_cfg,
    )
    from pears_fruit_fly_spark.operators.bm25 import invalidate_index_cache

    invalidate_index_cache(index_dir)
    return info


POSTING_ROWS_POS_DDL = "doc_id long, term_id int, tf int, dl long, pos binary"


def decode_posting_rows_with_positions(batches, excl=None):
    """Shared mapInPandas body: posting-block pdfs → per-posting pdfs
    (doc_id, term_id, tf, dl, pos-bytes). Position payloads stay COMPRESSED
    (codec.slice_position_stream — varbyte terminators + tf counts locate
    boundaries, no decode). excl: optional sorted int64 tombstone array.
    Shared by phrase and snippets (review finding: divergent copies); the
    segment merge decodes with decode_token_batch instead."""
    from pears_fruit_fly_spark.operators.codec import (
        decode_blocks_batch,
        slice_position_stream,
    )

    for pdf in batches:
        if pdf.empty:
            continue
        ids, tfs, dls, rix = decode_blocks_batch(
            pdf["n"].to_numpy(), pdf["first_doc"].to_numpy(),
            pdf["doc_gaps"], pdf["tfs"], pdf["dls"],
        )
        bounds = np.concatenate([[0], np.cumsum(pdf["n"].to_numpy())])
        slices: list[bytes] = []
        for bi, buf in enumerate(pdf["positions"]):
            slices.extend(slice_position_stream(
                bytes(buf), tfs[bounds[bi] : bounds[bi + 1]]
            ))
        out = {
            "doc_id": ids,
            "term_id": pdf["term_id"].to_numpy()[rix].astype(np.int32),
            "tf": tfs.astype(np.int32),
            "dl": dls,
            "pos": np.asarray(slices, dtype=object),
        }
        if excl is not None and ids.size:
            keep = ~np.isin(ids, excl)
            out = {k: v[keep] for k, v in out.items()}
        yield pd.DataFrame(out)


def doc_complete_batches(batches):
    """Re-chunk an Arrow batch stream that is SORTED by doc_id within the
    partition so that no doc's rows straddle a yielded frame (the
    trailing-doc carry — shared by every doc-clustered kernel)."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if pdf.empty:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        last_doc = pdf["doc_id"].iloc[-1]
        tail = pdf["doc_id"] == last_doc
        carry = pdf[tail].reset_index(drop=True)
        head = pdf[~tail]
        if not head.empty:
            yield head
    if carry is not None and not carry.empty:
        yield carry


def decode_token_batch(rb, with_positions: bool,
                       excl: np.ndarray | None = None) -> dict:
    """One Arrow batch of posting blocks -> tokenize-kernel columns
    (doc_id, term_id, tf, dl [, pos_stream, pos_lens]).

    The block payloads are read zero-copy from the Arrow buffers and
    decoded in one decode_blocks_batch pass. Positions stay compressed:
    the batch's blocks concatenate into one flat stream, cut per posting
    by codec.position_widths. excl: optional sorted int64 tombstone
    array, masked here."""
    from pears_fruit_fly_spark.operators.codec import (
        decode_blocks_batch,
        gather_byte_runs,
        position_widths,
    )

    col = rb.schema.get_field_index
    ids, tfs, dls, rix = decode_blocks_batch(
        rb.column(col("n")).to_numpy(zero_copy_only=False),
        rb.column(col("first_doc")).to_numpy(zero_copy_only=False),
        *([_binary_values(rb.column(col(c)))[0]]
          for c in ("doc_gaps", "tfs", "dls")),
    )
    term = rb.column(col("term_id")).to_numpy(zero_copy_only=False)
    out = {"doc_id": ids, "term_id": term[rix].astype(np.int32),
           "tf": tfs.astype(np.int32), "dl": dls}
    if with_positions:
        stream = _binary_values(rb.column(col("positions")))[0]
        out["pos_stream"] = stream
        out["pos_lens"] = position_widths(stream, tfs)
    if excl is not None:
        keep = np.flatnonzero(~np.isin(ids, excl))
        if keep.size < ids.size:
            if with_positions:
                out["pos_stream"], out["pos_lens"] = gather_byte_runs(
                    out["pos_stream"], out["pos_lens"], keep
                )
            for c in ("doc_id", "term_id", "tf", "dl"):
                out[c] = out[c][keep]
    return out


def _decoded_tokens_factory(spark: SparkSession, dirs: list[str],
                            with_positions: bool, P: int,
                            tomb_ids: np.ndarray | None = None,
                            tomb_df: DataFrame | None = None):
    """The read side of the multi-way segment merge: posting blocks of
    every dir -> staged token blobs (TOKEN_BLOBS_SCHEMA).

    One mapInArrow kernel decodes each Arrow batch of blocks straight
    into PTB1/PTB2 blobs (decode_token_batch -> pack_token_blobs),
    masking the sorted driver tombstone array tomb_ids on the way. A
    tombstone set over TOMBSTONE_DRIVER_MAX comes as tomb_df instead:
    the kernel then emits token rows, which anti-join the tombstone
    table and re-pack through rows_to_blobs — never a driver-collected
    list."""

    def factory() -> DataFrame:
        frames = [read_postings(spark, d) for d in dirs]
        allp = frames[0]
        for f in frames[1:]:
            allp = allp.unionByName(f)
        blocks = allp.select(
            "term_id", "n", "first_doc", "doc_gaps", "tfs", "dls",
            *(["positions"] if with_positions else []),
        )
        if tomb_df is None:
            b_excl = (spark.sparkContext.broadcast(tomb_ids)
                      if tomb_ids is not None and tomb_ids.size else None)

            def _blobs(batches):
                excl = b_excl.value if b_excl is not None else None
                for rb in batches:
                    out = decode_token_batch(rb, with_positions, excl)
                    if out["doc_id"].size:
                        yield token_blob_batch(out, P)

            return blocks.mapInArrow(_blobs, TOKEN_BLOBS_SCHEMA)

        def _rows(batches):
            import pyarrow as pa

            for rb in batches:
                out = decode_token_batch(rb, with_positions)
                cols = {c: out[c] for c in ("doc_id", "term_id", "tf", "dl")}
                if with_positions:
                    off = np.concatenate([[0], np.cumsum(out["pos_lens"])])
                    cols["pos"] = pa.Array.from_buffers(
                        pa.binary(), off.size - 1,
                        [None, pa.py_buffer(off.astype(np.int32)),
                         pa.py_buffer(out["pos_stream"].tobytes())],
                    )
                yield pa.RecordBatch.from_pydict(cols)

        schema = TOKENS_POS_SCHEMA if with_positions else TOKENS_SCHEMA
        rows = blocks.mapInArrow(_rows, schema)
        return rows_to_blobs(rows.join(tomb_df, "doc_id", "left_anti"), P)

    return factory


def merge_segments(spark: SparkSession, index_dir: str,
                   tombstones: tuple[int, np.ndarray | None] | None = None
                   ) -> dict:
    """Multi-way posting merge: rewrite base + all append segments into ONE
    base index (posting blocks -> staged token blobs -> the standard
    salted encode pipeline), recomputing term stats and avgdl globally so
    block-max bounds are tight again. Queries before/after are identical,
    and the merged postings equal a fresh build of the surviving docs
    (tested).

    The merged index keeps the base's layout (block size, buckets, salt
    plan inputs, positions) and always stages as blobs, whatever the
    base's staging format. Tombstones are masked inside the decode kernel
    when they fit TOMBSTONE_DRIVER_MAX, else anti-joined
    (_decoded_tokens_factory). tombstones: the (count, ids) pair of
    tombstone_ids, when the caller already read it.

    Crash-safe commit protocol (VERDICT r2 #2): the merged index is built
    under a NEW version directory inside the index root, then the root's
    ``_current`` pointer flips atomically (plans/commitlog.py) and old
    versions are garbage-collected. A query succeeds at EVERY crash point:
    before the flip the old version (with its segments and tombstones)
    keeps serving; after it the merged version serves. A re-run after a
    crash resumes the same version directory (name is derived from the
    merge fingerprint) and finishes the flip."""
    live = cl.resolve(index_dir)
    segs = list_segments(index_dir)
    tomb_count, tomb_ids = (tombstones if tombstones is not None
                            else tombstone_ids(spark, index_dir))
    if not segs and tomb_count == 0:
        cl.gc(index_dir)  # reclaim any crashed partial merge builds
        return mf.read_build_info(live)
    infos = [mf.read_build_info(live)] + [mf.read_build_info(d) for d in segs]
    base = infos[0]
    n_docs = sum(i["n_docs"] for i in infos)
    n_docs -= tomb_count  # contract: tombstoned ids exist
    min_doc = min((i.get("min_doc") for i in infos if i.get("min_doc") is not None),
                  default=None)
    max_doc = max((i.get("max_doc") for i in infos if i.get("max_doc") is not None),
                  default=None)
    import hashlib

    child_fps = ",".join(str(i.get("corpus_fingerprint")) for i in infos)
    # sha1, not hash(): Python's str hash is process-salted, and the merged
    # fingerprint must be stable for cross-session resume/fail-fast checks
    fingerprint = "merged:{}:{}".format(
        n_docs, hashlib.sha1(child_fps.encode()).hexdigest()[:16]
    )
    if tomb_count:
        fingerprint += f":deleted={tomb_count}"
    cfg = PostingsConfig(
        block_size=base["block_size"],
        num_partitions=base["num_partitions"],
        skew_df_threshold=base["skew_df_threshold"],
        # bases built before the value was recorded used the default
        max_docs_per_subpartition=base.get(
            "max_docs_per_subpartition",
            PostingsConfig().max_docs_per_subpartition,
        ),
        store_positions=bool(base.get("store_positions", False)),
        staging_format="blobs",
    )
    decoded = _decoded_tokens_factory(
        spark, [live] + segs, cfg.store_positions, cfg.num_partitions,
        tomb_ids=tomb_ids,
        tomb_df=(read_tombstones_df(spark, index_dir)
                 if tomb_count and tomb_ids is None else None),
    )
    # resumable target: same inputs -> same version dir (re-run after a
    # crash picks up the partial build via the bucket manifest)
    version = cl.version_name(
        index_dir, hashlib.sha1(fingerprint.encode()).hexdigest()[:8]
    )
    target = os.path.join(index_dir, version)
    info = _build_from_tokens(
        spark,
        decoded,
        fingerprint,
        n_docs=n_docs, min_doc=min_doc, max_doc=max_doc,
        vocab_size=base.get("vocab_size", 0), index_dir=target,
        bm25=BM25Config(base["k1"], base["b"]), cfg=cfg,
    )
    # atomic commit: flip the pointer, then reclaim the old version (which
    # still holds the folded segments and the purged tombstones)
    cl.publish(index_dir, version)
    cl.gc(index_dir)
    from pears_fruit_fly_spark.operators.bm25 import invalidate_index_cache

    invalidate_index_cache(index_dir)
    return info


TOMBSTONES_DIRNAME = "_tombstones"
# delete_docs writes this schema; readers pass it so no read infers one
TOMBSTONE_SCHEMA = "doc_id long"


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Tombstone deletes, Lucene liveDocs-style: doc ids are recorded under
    <index_dir>/_tombstones/ and excluded from every query IMMEDIATELY;
    posting bytes and collection statistics (df, n_docs, avgdl) are only
    physically purged at merge_segments — until then surviving docs keep
    their pre-delete scores (the standard deletes-visible/stats-stale
    contract of segment-based engines). Returns the number of ids recorded.

    doc_ids: iterable of ints or a single-column DataFrame of doc ids.
    """
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
    else:
        ids = [(int(d),) for d in doc_ids]
        if not ids:
            return 0
        df = spark.createDataFrame(ids, TOMBSTONE_SCHEMA)
    live = cl.resolve(index_dir)
    path = os.path.join(live, TOMBSTONES_DIRNAME)
    existing = read_tombstones_df(spark, index_dir)
    tagged = df.withColumn("is_new", F.lit(1))
    if existing is not None:
        tagged = existing.withColumn("is_new", F.lit(0)).unionByName(tagged)
    # ONE job counts the distinct union and the new ids together
    row = (tagged.groupBy("doc_id").agg(F.max("is_new").alias("is_new"))
           .agg(F.count("*").alias("n"), F.sum("is_new").alias("new"))
           .collect()[0])
    n = int(row["n"])
    if not row["new"]:
        # review finding: a no-op delete must not create tombstone state
        return n
    # enforce the merge contract BEFORE writing anything: tombstones are a
    # between-merges overlay, not a primary storage format — past this
    # fraction the stale collection stats (df/avgdl still count deleted
    # docs) distort scoring too much (VERDICT r2 #3)
    n_docs = max(
        1,
        sum(
            int(mf.read_build_info(d).get("n_docs", 0))
            for d in [live] + list_segments(index_dir)
        ),
    )
    frac = n / n_docs
    if frac > MAX_TOMBSTONE_FRACTION:
        raise ValueError(
            f"this delete would push tombstones to {frac:.0%} of the corpus "
            f"(> {MAX_TOMBSTONE_FRACTION:.0%}); run merge_segments()/"
            "SearchEngine.merge() to physically purge deletes first "
            "(nothing was recorded)"
        )
    df.distinct().write.mode("append").parquet(path)
    # sidecar count ("_"-prefixed: the parquet reader ignores it) lets the
    # query path pick driver-array vs distributed masking WITHOUT a Spark
    # job per query (VERDICT r2 #3 — bound the tombstone path). It records
    # the part-file set it covers so a crash between the append and this
    # write (or any out-of-band write) is DETECTED and the count recomputed
    # instead of trusted stale (review finding).
    import json

    files = sorted(f for f in fsio.listdir(path) if f.endswith(".parquet"))
    fsio.write_text(
        os.path.join(path, "_count.json"),
        json.dumps({"count": int(n), "files": files}),
    )
    from pears_fruit_fly_spark.operators.bm25 import invalidate_index_cache

    invalidate_index_cache(index_dir)
    return n


# Tombstone sets up to this size travel as a driver array + broadcast into
# the scoring kernels (the Lucene liveDocs bitset analog). Bigger sets stay
# DISTRIBUTED: per-doc-range slices cogrouped with the posting blocks, so no
# driver materialization at any delete volume (VERDICT r2 #3).
TOMBSTONE_DRIVER_MAX = 100_000
# delete_docs refuses to push the tombstone overlay past this share of the
# corpus without a merge (stats-staleness + masking cost contract).
MAX_TOMBSTONE_FRACTION = 0.5


def tombstone_count(spark: SparkSession, index_dir: str) -> int:
    """Number of distinct tombstoned ids — from the sidecar count written by
    delete_docs (no Spark job) when it provably covers the CURRENT part-file
    set; recomputed with a count query otherwise (absent, malformed, or
    stale after a crash between the parquet append and the sidecar write)."""
    import json

    path = os.path.join(cl.resolve(index_dir), TOMBSTONES_DIRNAME)
    if not fsio.isdir(path):
        return 0
    try:
        side = json.loads(fsio.read_text(os.path.join(path, "_count.json")))
        files = sorted(f for f in fsio.listdir(path) if f.endswith(".parquet"))
        if side.get("files") == files:
            return int(side["count"])
    except (OSError, ValueError, KeyError):
        pass
    df = read_tombstones_df(spark, index_dir)
    return 0 if df is None else df.count()


def tombstone_ids(spark: SparkSession,
                  index_dir: str) -> tuple[int, np.ndarray | None]:
    """(distinct tombstone count, sorted int64 ids) from ONE bounded
    collect of at most TOMBSTONE_DRIVER_MAX + 1 ids; past the cap the ids
    are None and the count comes from a count() job."""
    df = read_tombstones_df(spark, index_dir)
    if df is None:
        return 0, None
    rows = df.limit(TOMBSTONE_DRIVER_MAX + 1).collect()
    if len(rows) > TOMBSTONE_DRIVER_MAX:
        return df.count(), None
    ids = np.sort(np.fromiter((r["doc_id"] for r in rows), dtype=np.int64,
                              count=len(rows)))
    return int(ids.size), ids


def read_tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Distinct tombstoned doc ids as a DataFrame (the scale path: never
    materialized on the driver), or None if the index has no tombstones."""
    path = os.path.join(cl.resolve(index_dir), TOMBSTONES_DIRNAME)
    if not fsio.isdir(path):
        return None
    return spark.read.schema(TOMBSTONE_SCHEMA).parquet(path).distinct()


def read_tombstones(spark: SparkSession, index_dir: str,
                    max_driver: int | None = TOMBSTONE_DRIVER_MAX,
                    known_count: int | None = None):
    """Sorted int64 array of tombstoned doc ids, or None if there are none.

    The driver array is BOUNDED (VERDICT r2 #3): sets larger than
    max_driver raise — callers that can handle any volume must gate on
    tombstone_count() and use read_tombstones_df() + a distributed mask
    (open_index/bm25 do exactly that). A caller that already ran
    tombstone_count passes it as known_count so the cap check does not
    re-run the count jobs (review finding: open_index counted twice)."""
    path = os.path.join(cl.resolve(index_dir), TOMBSTONES_DIRNAME)
    if not fsio.isdir(path):
        return None
    count = (known_count if known_count is not None
             else tombstone_count(spark, index_dir))
    if max_driver is not None and count > max_driver:
        raise ValueError(
            f"tombstone set exceeds the {max_driver}-id driver cap; use "
            "read_tombstones_df (distributed) or merge_segments to purge"
        )
    rows = spark.read.schema(TOMBSTONE_SCHEMA).parquet(path).distinct().collect()
    if not rows:
        return None
    return np.unique(np.fromiter((r["doc_id"] for r in rows), dtype=np.int64))


def compact_postings(spark: SparkSession, index_dir: str,
                     target_files_per_bucket: int = 1) -> None:
    """Maintenance compaction: rewrite each term bucket into
    target_files_per_bucket files (small-file cleanup after incremental /
    batched builds — the Iceberg rewrite_data_files analog). Content is
    unchanged; safe to run any time after a completed build.

    Crash-safe (VERDICT r2 #2): the rewrite lands in a new version under
    the postings subdir's own commit pointer; readers keep the old file set
    until the atomic pointer flip, so there is no missing-postings window
    at any crash point."""
    live = cl.resolve(index_dir)
    postings_root = os.path.join(live, "postings")
    info = mf.read_build_info(live)
    current = read_postings(spark, index_dir)

    def _rewrite(target: str) -> None:
        # hash-partition on term_bucket: whole buckets co-locate, so each
        # bucket directory ends up with target_files_per_bucket files
        (
            current.repartition(
                info["num_partitions"] * target_files_per_bucket, "term_bucket"
            )
            .sortWithinPartitions("term_id", "salt", "block_id")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(target)
        )

    cl.commit_rewrite(postings_root, "compact", _rewrite)
    # cached postings DataFrames reference the old (deleted) files; the
    # build_id bump also evicts cross-session/cross-process stale entries
    # (ADVICE r1/r2 — mtime granularity is not a reliable version)
    mf.bump_build_id(live)
    from pears_fruit_fly_spark.operators.bm25 import invalidate_index_cache

    invalidate_index_cache(index_dir)


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """Postings table with term_bucket partition column recovered from paths.

    Resolves the index root's version pointer AND the postings subdir's own
    pointer (compaction publishes rewritten versions there). An empty-corpus
    build writes no posting files at all; that is still a valid (empty)
    index, so return an empty frame rather than failing."""
    path = cl.resolve(os.path.join(cl.resolve(index_dir), "postings"))
    if not fsio.isdir(path):
        return spark.createDataFrame([], STORED_POSTINGS_SCHEMA)
    # explicit schema: no footer-inference job, and a legacy tf-only tree
    # with no positions column on disk reads it as NULL
    return (spark.read.schema(STORED_POSTINGS_SCHEMA)
            .option("basePath", path).parquet(path))


def read_term_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(TERM_STATS_SCHEMA).parquet(
        os.path.join(cl.resolve(index_dir), "term_stats")
    )
