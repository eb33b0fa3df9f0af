"""Postings build: round-trip vs tokens, resume byte-identity, skew salting."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from pears_fruit_fly_spark.config import BM25Config, PostingsConfig
from pears_fruit_fly_spark.operators.codec import decode_block
from pears_fruit_fly_spark.operators.docids import assign_doc_ids
from pears_fruit_fly_spark.operators.postings import (
    build_postings,
    read_postings,
    read_term_stats,
    tokens_long,
)
from pears_fruit_fly_spark.plans import manifest as mf
from pears_fruit_fly_spark.sources.wet import dedup_latest


@pytest.fixture(scope="module")
def pages_ids(spark, pages_df):
    clean = dedup_latest(pages_df)
    ids = assign_doc_ids(clean, "url")
    return clean.join(ids, "url").persist()


def test_assign_doc_ids_dense_and_deterministic(spark, pages_df):
    clean = dedup_latest(pages_df)
    a = {r["url"]: r["doc_id"] for r in assign_doc_ids(clean, "url").collect()}
    b = {r["url"]: r["doc_id"] for r in assign_doc_ids(clean.repartition(13), "url").collect()}
    assert a == b  # layout-independent
    n = clean.count()
    assert sorted(a.values()) == list(range(n))  # dense 0..N-1
    # deterministic total order: (bucket, url) — verify ids unique & stable
    c = {r["url"]: r["doc_id"] for r in assign_doc_ids(clean.coalesce(1), "url").collect()}
    assert a == c


def test_assign_doc_ids_larger_scale(spark):
    """Regression for the repartitionByRange nondeterminism bug: at 20k rows
    the sampled range boundaries differed between the count job and the
    assign job, producing duplicate ids."""
    from pears_fruit_fly_spark.fixtures.webtext import make_web_pages

    pdf = make_web_pages(n=5000, v=300)
    df = dedup_latest(spark.createDataFrame(pdf[["url", "warc_ts"]]))
    ids = [r["doc_id"] for r in assign_doc_ids(df, "url").collect()]
    assert sorted(ids) == list(range(df.count()))


def test_tokens_long_matches_python(spark, pages_ids, vocab):
    rows = tokens_long(pages_ids, vocab).collect()
    got = {(r["doc_id"], r["term_id"]): (r["tf"], r["dl"]) for r in rows}
    src = {r["doc_id"]: r["text"] for r in pages_ids.select("doc_id", "text").collect()}
    from pears_fruit_fly_spark.functions.tokenizer import whitespace_tokenize

    want = {}
    for did, text in src.items():
        ids = vocab.encode(whitespace_tokenize((text or "").replace("\n", " ")))
        dl = len(ids)
        counts: dict[int, int] = {}
        for t in ids:
            counts[t] = counts.get(t, 0) + 1
        for t, c in counts.items():
            want[(did, t)] = (c, dl)
    assert got == want


@pytest.fixture(scope="module")
def index_dir(spark, pages_ids, vocab, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    build_postings(
        spark, pages_ids, vocab, d,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=50,
                           max_docs_per_subpartition=40),
    )
    return d


def test_postings_roundtrip_vs_tokens(spark, pages_ids, vocab, index_dir):
    """Decoding every block must reproduce the exact token table."""
    tokens = {
        (r["doc_id"], r["term_id"]): (r["tf"], r["dl"])
        for r in tokens_long(pages_ids, vocab).collect()
    }
    decoded = {}
    for blk in read_postings(spark, index_dir).collect():
        ids, tfs, dls = decode_block(blk)
        assert (np.diff(ids) > 0).all()  # sorted, strictly increasing
        assert blk["n"] <= 128
        for d, t, dl in zip(ids, tfs, dls):
            key = (int(d), int(blk["term_id"]))
            assert key not in decoded or blk["salt"] is not None
            decoded[key] = (int(t), int(dl))
    assert decoded == tokens


def test_term_stats(spark, pages_ids, vocab, index_dir):
    stats = {r["term_id"]: (r["df"], r["cf"]) for r in read_term_stats(spark, index_dir).collect()}
    tokens = tokens_long(pages_ids, vocab)
    want = {
        r["term_id"]: (r["df"], r["cf"])
        for r in tokens.groupBy("term_id")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .collect()
    }
    assert stats == want


def test_skewed_terms_are_salted(spark, index_dir):
    """Head terms (df > 50) must be split into multiple salt runs."""
    p = read_postings(spark, index_dir)
    head = (
        p.groupBy("term_id")
        .agg(F.countDistinct("salt").alias("n_salts"), F.sum("n").alias("df"))
        .filter(F.col("df") > 80)
    )
    rows = head.collect()
    assert rows, "fixture should have head terms"
    assert all(r["n_salts"] > 1 for r in rows)


def test_manifest_written(spark, index_dir):
    m = mf.read_manifest(spark, index_dir)
    rows = m.collect()
    assert {int(r["partition_key"]) for r in rows} == set(
        r["term_bucket"]
        for r in read_postings(spark, index_dir).select("term_bucket").distinct().collect()
    )
    assert all(r["rows_out"] > 0 and r["bytes_out"] > 0 and r["wall_ms"] > 0 for r in rows)


def test_resume_produces_identical_index(spark, pages_ids, vocab, index_dir, tmp_path):
    """Kill after 3 buckets; resume; final postings byte-identical."""
    d2 = str(tmp_path / "index2")
    cfg = PostingsConfig(num_partitions=8, skew_df_threshold=50,
                         max_docs_per_subpartition=40, bucket_batch_size=1)

    class Boom(Exception):
        pass

    calls = {"n": 0}
    orig = mf.append_manifest_rows

    def exploding(spark_, dir_, rows):
        calls["n"] += 1
        orig(spark_, dir_, rows)
        if calls["n"] == 3:
            raise Boom()

    mf_module_attr = mf.append_manifest_rows
    mf.append_manifest_rows = exploding
    import pears_fruit_fly_spark.operators.postings as P

    P.mf.append_manifest_rows = exploding
    try:
        with pytest.raises(Boom):
            build_postings(spark, pages_ids, vocab, d2, cfg=cfg)
    finally:
        mf.append_manifest_rows = mf_module_attr
        P.mf.append_manifest_rows = mf_module_attr

    assert len(mf.completed_partitions(spark, d2)) == 3
    from pears_fruit_fly_spark.plans import commitlog as cl

    staging = os.path.join(cl.resolve(d2), "_staging_tokens")
    assert os.path.isdir(staging)  # kept for the resume
    build_postings(spark, pages_ids, vocab, d2, cfg=cfg)  # resume
    assert not os.path.exists(staging)  # dropped once every bucket is done

    def dump(d):
        rows = read_postings(spark, d).collect()
        return sorted(
            (r["term_id"], r["salt"], r["block_id"], r["n"], r["first_doc"],
             r["last_doc"], bytes(r["doc_gaps"]), bytes(r["tfs"]),
             bytes(r["dls"]), r["max_tf"], round(r["max_impact"], 12))
            for r in rows
        )

    assert dump(d2) == dump(index_dir)


def test_recall_with_changed_corpus_fails_fast(spark, pages_ids, vocab, tmp_path):
    """ADVICE r1: a completed build re-called with different pages must NOT
    silently resume (doc ids would be reassigned against stale postings)."""
    d = str(tmp_path / "fpidx")
    cfg = PostingsConfig(num_partitions=4)
    build_postings(spark, pages_ids, vocab, d, cfg=cfg)
    # same corpus: resume is a no-op and succeeds
    build_postings(spark, pages_ids, vocab, d, cfg=cfg)
    changed = pages_ids.filter(F.col("doc_id") != 0)
    with pytest.raises(ValueError, match="DIFFERENT corpus"):
        build_postings(spark, changed, vocab, d, cfg=cfg)


def test_open_index_cache_evicted_on_rebuild(spark, pages_ids, vocab, tmp_path):
    """Same-path rebuild (fresh dir contents) must not serve stale handles."""
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand

    d = str(tmp_path / "cacheidx")
    cfg = PostingsConfig(num_partitions=4)
    build_postings(spark, pages_ids, vocab, d, cfg=cfg)
    q1 = [(r["doc_id"], r["score"])
          for r in bm25_topk_wand(spark, d, "t0 t3", vocab, k=5).collect()]
    shutil.rmtree(d)
    # rebuild with a SMALLER corpus under the same path: n_docs/avgdl and the
    # parquet file set all change; the cached entry must be evicted
    smaller = pages_ids.filter(F.col("doc_id") < 100)
    build_postings(spark, smaller, vocab, d, cfg=cfg)
    q2 = [(r["doc_id"], r["score"])
          for r in bm25_topk_wand(spark, d, "t0 t3", vocab, k=5).collect()]
    assert all(doc < 100 for doc, _ in q2)
    assert q1 != q2


def test_index_version_is_mtime_independent(spark, pages_ids, vocab, tmp_path):
    """ADVICE r2: the cache version must change on rebuild even when the
    filesystem timestamp does not (sub-granularity rebuild, or a rebuild by
    another process) — keyed on build_id, not mtime."""
    from pears_fruit_fly_spark.operators.bm25 import _index_version
    from pears_fruit_fly_spark.plans import commitlog as cl

    d = str(tmp_path / "vidx")
    cfg = PostingsConfig(num_partitions=4)
    build_postings(spark, pages_ids, vocab, d, cfg=cfg)
    v1 = _index_version(d)
    mtime = os.path.getmtime(os.path.join(cl.resolve(d), "_build_info.json"))
    shutil.rmtree(d)
    build_postings(spark, pages_ids, vocab, d, cfg=cfg)
    info_path = os.path.join(cl.resolve(d), "_build_info.json")
    os.utime(info_path, (mtime, mtime))  # force an identical mtime
    v2 = _index_version(d)
    assert v1 != v2
    # compaction rewrites files without changing content: also a new version
    from pears_fruit_fly_spark.operators.postings import compact_postings

    compact_postings(spark, d)
    assert _index_version(d) != v2


def test_sharded_encode_identical_index(spark, pages_ids, vocab, index_dir,
                                        tmp_path):
    """r4 encode sharding: a forced-tiny encode_rows_per_task splits every
    bucket into many hash-shard tasks; the resulting index must be
    byte-identical to the unsharded build (block layout is shard-count
    independent because shards hold whole (term, salt) runs)."""
    d2 = str(tmp_path / "sharded")
    build_postings(
        spark, pages_ids, vocab, d2,
        cfg=PostingsConfig(num_partitions=8, skew_df_threshold=50,
                           max_docs_per_subpartition=40,
                           encode_rows_per_task=25),
    )

    def dump(d):
        rows = read_postings(spark, d).collect()
        return sorted(
            (r["term_id"], r["salt"], r["block_id"], r["n"], r["first_doc"],
             r["last_doc"], bytes(r["doc_gaps"]), bytes(r["tfs"]),
             bytes(r["dls"]), r["max_tf"], round(r["max_impact"], 12))
            for r in rows
        )

    assert dump(d2) == dump(index_dir)


def test_tokenize_kernel_unicode_property(vocab):
    """r4 Arrow-compute kernel: parity vs a pure-python reference over
    adversarial unicode batches (diacritics, CJK, emoji, NULs, lone
    surrogate-free controls, empty/None texts, separator runs) — the
    kernel swap (split_pattern/index_in/bincount) must be bit-identical
    for ANY input, not just the fixtures."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from pears_fruit_fly_spark.operators.postings import tokenize_batch_kernel

    vocab_index = pd.Index(list(vocab.terms))
    word = st.one_of(
        st.sampled_from(list(vocab.terms)[:40]),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters=" "
            ),
            min_size=0, max_size=6,
        ),
    )
    doc = st.lists(word, min_size=0, max_size=30).map(" ".join)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.one_of(doc, st.none()), min_size=1, max_size=8))
    def check(texts):
        pdf = pd.DataFrame({
            "doc_id": list(range(len(texts))),
            "text": texts,
        })
        out = tokenize_batch_kernel(pdf, vocab_index, "text", False)
        got = {}
        if out is not None:
            for d, t, tf, dl in zip(out["doc_id"], out["term_id"],
                                    out["tf"], out["dl"]):
                got[(int(d), int(t))] = (int(tf), int(dl))
        want = {}
        for did, text in enumerate(texts):
            toks = [w for w in (text or "").replace("\n", " ").split(" ")
                    if w]
            ids = [vocab.term_to_id[w] for w in toks
                   if w in vocab.term_to_id]
            counts: dict[int, int] = {}
            for t in ids:
                counts[t] = counts.get(t, 0) + 1
            for t, c in counts.items():
                want[(did, t)] = (c, len(ids))
        assert got == want

    check()
