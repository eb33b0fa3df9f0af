"""Packed-blob token staging: the blobs must carry the exact token table,
a build must write the same index tree as the row staging it replaced
(golden digests), and the Python-side bucket hash must agree bit-for-bit
with the JVM expression used by query-time partition pruning."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pears_fruit_fly_spark.config import PostingsConfig
from pears_fruit_fly_spark.operators.docids import assign_doc_ids
from pears_fruit_fly_spark.operators.postings import (
    append_postings,
    build_postings,
    merge_segments,
    pack_token_blobs,
    read_postings,
    read_term_stats,
    term_buckets_py,
    tokens_blobs,
    tokens_long,
    unpack_token_blob,
    xxhash64_long,
)
from pears_fruit_fly_spark.plans import manifest as mf
from pears_fruit_fly_spark.sources.wet import dedup_latest


@pytest.fixture(scope="module")
def pages_ids(spark, pages_df):
    clean = dedup_latest(pages_df)
    ids = assign_doc_ids(clean, "url")
    return clean.join(ids, "url").persist()


# ---------------------------------------------------------------- hashing

def test_xxhash64_parity_with_jvm(spark):
    """term_buckets_py must equal pmod(xxhash64(term_id), P) exactly —
    blob staging buckets in Python, query pruning buckets in the JVM.
    term_id is IntegerType in every staged/stats schema, so parity is
    pinned on an INT column (Spark's hashInt differs from hashLong of
    the same value — the round-5 lost-postings bug)."""
    ivals = np.array(
        [0, 1, -1, 7, 12345, -98765, 2**31 - 1, -(2**31), 424242, 31337]
        + list(range(-50, 50, 7)),
        dtype=np.int32,
    )
    df = spark.createDataFrame([(int(v),) for v in ivals], "term_id int")
    for P in (8, 32, 257):
        jvm = {
            r["term_id"]: r["b"]
            for r in df.select(
                "term_id",
                F.pmod(F.xxhash64("term_id"), F.lit(P)).cast("int").alias("b"),
            ).collect()
        }
        py = term_buckets_py(ivals, P)
        for v, b in zip(ivals, py):
            assert jvm[int(v)] == int(b), (v, P)
    # raw hash parity for both width variants
    from pears_fruit_fly_spark.operators.postings import xxhash64_int

    jvm_hi = {
        r["term_id"]: r["h"]
        for r in df.select("term_id", F.xxhash64("term_id").alias("h")).collect()
    }
    for v, h in zip(ivals, xxhash64_int(ivals)):
        assert jvm_hi[int(v)] == int(h), v
    lvals = np.array(
        [0, 1, -1, 7, 12345, -98765, 2**63 - 1, -(2**63), 424242],
        dtype=np.int64,
    )
    dfl = spark.createDataFrame([(int(v),) for v in lvals], "term_id long")
    jvm_hl = {
        r["term_id"]: r["h"]
        for r in dfl.select(
            "term_id", F.xxhash64("term_id").alias("h")
        ).collect()
    }
    for v, h in zip(lvals, xxhash64_long(lvals)):
        assert jvm_hl[int(v)] == int(h), v
    # the two variants REALLY differ (guards against collapsing them)
    assert int(xxhash64_int(np.array([7], np.int32))[0]) != int(
        xxhash64_long(np.array([7], np.int64))[0]
    )


# ------------------------------------------------------------- blob codec

def test_blob_pack_unpack_roundtrip():
    rng = np.random.default_rng(11)
    n = 5000
    out = {
        "doc_id": rng.integers(0, 10**9, n).astype(np.int64),
        "term_id": rng.integers(0, 5000, n).astype(np.int32),
        "tf": rng.integers(1, 50, n).astype(np.int32),
        "dl": rng.integers(1, 2000, n).astype(np.int64),
    }
    P = 16
    pdf = pack_token_blobs(out, P)
    # every bucket row unpacks to rows whose python-side bucket matches
    got = []
    for _, row in pdf.iterrows():
        d, t, tf, dl, plens, pstream = unpack_token_blob(row["blob"])
        assert plens is None and pstream is None  # tf-only -> PTB1
        assert len(d) == row["n"]
        b = term_buckets_py(t.astype(np.int64), P)
        assert (b == row["term_bucket"]).all()
        got.append(np.stack([d, t.astype(np.int64), tf.astype(np.int64), dl]))
    got_all = np.concatenate(got, axis=1)
    want = np.stack(
        [out["doc_id"], out["term_id"].astype(np.int64),
         out["tf"].astype(np.int64), out["dl"]]
    )
    # same multiset of (doc, term, tf, dl) rows
    assert (
        sorted(map(tuple, got_all.T.tolist()))
        == sorted(map(tuple, want.T.tolist()))
    )


def test_blob_bad_magic_fails_loud():
    with pytest.raises(ValueError, match="magic"):
        unpack_token_blob(b"XXXX" + b"\x00" * 16)


def test_tokens_blobs_equals_tokens_long(spark, pages_ids, vocab):
    """Unpacking the fused tokenize+pack output must give the exact token
    table of the row path."""
    P = 8
    want = {
        (r["doc_id"], r["term_id"]): (r["tf"], r["dl"])
        for r in tokens_long(pages_ids, vocab).collect()
    }
    got = {}
    for r in tokens_blobs(pages_ids, vocab, P).collect():
        d, t, tf, dl, _, _ = unpack_token_blob(bytes(r["blob"]))
        assert len(d) == r["n"]
        for i in range(len(d)):
            got[(int(d[i]), int(t[i]))] = (int(tf[i]), int(dl[i]))
    assert got == want


def test_tokens_blobs_positional_equals_tokens_long(spark, pages_ids, vocab):
    """PTB2 blobs must carry the exact per-(doc, term) position streams of
    the row path (same varbyte bytes, re-gathered into bucket order)."""
    P = 8
    want = {
        (r["doc_id"], r["term_id"]): (r["tf"], r["dl"], bytes(r["pos"]))
        for r in tokens_long(pages_ids, vocab, with_positions=True).collect()
    }
    got = {}
    for r in tokens_blobs(pages_ids, vocab, P, with_positions=True).collect():
        d, t, tf, dl, plens, pstream = unpack_token_blob(bytes(r["blob"]))
        assert plens is not None and len(d) == r["n"]
        off = np.concatenate([[0], np.cumsum(plens)])
        buf = pstream.tobytes()
        for i in range(len(d)):
            got[(int(d[i]), int(t[i]))] = (
                int(tf[i]), int(dl[i]), buf[int(off[i]) : int(off[i + 1])]
            )
    assert got == want


# ------------------------------------------------ golden tree digests

# sha256 of each shape's sorted _postings_snapshot (every block's bytes
# plus the term_stats rows). Recorded when builds could still stage one
# row per (doc, term) as well as packed blobs, with the row-staged and the
# blob-staged trees asserted equal first: a match here means the one
# remaining staging path still writes the index the row path wrote.
GOLDEN_TF_ONLY = (
    "bbd9ca83a537685cb35230d2c4274f44098672c7a93e82b44994d0a3eaf327dc")
GOLDEN_POSITIONAL = (
    "eb0dd8c1aa4db143b1742161285c8c34436e7676589cea4170f932026b59fed5")
# merge rewrites base + segment into the tree a fresh build of the same
# corpus writes, so this equals GOLDEN_TF_ONLY
GOLDEN_APPEND_MERGE = GOLDEN_TF_ONLY


def _postings_snapshot(spark, index_dir):
    blocks = {}
    for r in read_postings(spark, index_dir).collect():
        key = (r["term_id"], r["salt"], r["block_id"])
        assert key not in blocks
        blocks[key] = (
            r["n"], r["first_doc"], r["last_doc"],
            bytes(r["doc_gaps"]), bytes(r["tfs"]), bytes(r["dls"]),
            bytes(r["positions"]) if r["positions"] is not None else None,
            r["max_tf"], round(r["max_impact"], 9),
        )
    stats = {
        r["term_id"]: (r["df"], r["cf"], r["term_bucket"])
        for r in read_term_stats(spark, index_dir).collect()
    }
    return blocks, stats


def _tree_digest(spark, index_dir) -> str:
    blocks, stats = _postings_snapshot(spark, index_dir)
    h = hashlib.sha256()
    h.update(repr(sorted(blocks.items())).encode())
    h.update(repr(sorted(stats.items())).encode())
    return h.hexdigest()


def _cfg(**kw):
    return PostingsConfig(
        num_partitions=8, skew_df_threshold=50, max_docs_per_subpartition=40,
        **kw,
    )


@pytest.fixture(scope="module")
def tf_index(spark, pages_ids, vocab, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("golden_tf"))
    build_postings(spark, pages_ids, vocab, d, cfg=_cfg())
    return d


@pytest.fixture(scope="module")
def pos_index(spark, pages_ids, vocab, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("golden_pos"))
    build_postings(spark, pages_ids, vocab, d,
                   cfg=_cfg(store_positions=True))
    return d


def test_blob_build_identical_to_rows(spark, tf_index):
    """A tf-only build writes the tree the row-staged build wrote."""
    assert _tree_digest(spark, tf_index) == GOLDEN_TF_ONLY


def test_blob_positional_build_identical_to_rows(spark, pos_index):
    """A store_positions build (PTB2 blobs) writes the tree — positions
    stream of every block included — the row-staged build wrote."""
    blocks, _ = _postings_snapshot(spark, pos_index)
    assert all(v[6] for v in blocks.values())  # positions really present
    assert _tree_digest(spark, pos_index) == GOLDEN_POSITIONAL


def test_blob_build_info_records_format(tf_index, pos_index):
    assert mf.read_build_info(tf_index)["staging_format"] == "blobs"
    assert mf.read_build_info(pos_index)["staging_format"] == "blobs"


def test_blob_accepts_positions(pos_index):
    """store_positions stages through PTB2 blobs: the build records both
    the positional layout and the blob format."""
    info = mf.read_build_info(pos_index)
    assert info["store_positions"] is True
    assert info["staging_format"] == "blobs"


def test_blob_append_and_merge_identical(spark, pages_ids, vocab,
                                         tmp_path_factory):
    """Base + append + merge writes the tree the row-staged flow wrote."""
    base = pages_ids.filter(F.col("doc_id") < 200)
    extra = (
        pages_ids.filter(F.col("doc_id") >= 200)
        .withColumn("doc_id", F.col("doc_id").cast("long"))
    )
    d = str(tmp_path_factory.mktemp("golden_app"))
    build_postings(spark, base, vocab, d, cfg=_cfg())
    append_postings(spark, extra, vocab, d, cfg=_cfg())
    merge_segments(spark, d)
    assert _tree_digest(spark, d) == GOLDEN_APPEND_MERGE
