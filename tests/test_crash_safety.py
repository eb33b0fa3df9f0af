"""Crash-safe commit protocol (VERDICT r2 #2) + bounded tombstones (#3) +
driver-hop-free hybrid search (#7).

The old merge/compact/rewrite swaps had a window where the live artifact
path was missing; the commit-pointer protocol must serve a correct query at
EVERY crash point of a merge, and a re-run must complete recovery."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pears_fruit_fly_spark.config import PostingsConfig
from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand
from pears_fruit_fly_spark.operators.postings import (
    append_postings,
    build_postings,
    delete_docs,
    list_segments,
    merge_segments,
    tombstone_count,
)
from pears_fruit_fly_spark.oracle.bm25_numpy import BM25Oracle
from pears_fruit_fly_spark.plans import commitlog as cl


def test_commitlog_unit(tmp_path):
    root = str(tmp_path / "art")
    # unversioned root resolves to itself and gc is a no-op
    os.makedirs(root)
    open(os.path.join(root, "legacy.txt"), "w").write("x")
    assert cl.resolve(root) == root
    cl.gc(root)
    assert os.path.exists(os.path.join(root, "legacy.txt"))
    # first version
    v0 = cl.version_name(root, "aaaa")
    assert v0 == "_v_00000000_aaaa"
    os.makedirs(os.path.join(root, v0))
    cl.publish(root, v0)
    assert cl.resolve(root) == os.path.join(root, v0)
    # counter derives from the LIVE version, not stray children
    os.makedirs(os.path.join(root, "_v_00000005_dead"))  # crashed orphan
    assert cl.version_name(root, "bbbb") == "_v_00000001_bbbb"
    # publish + gc reclaims orphans, old versions AND pre-pointer leftovers
    os.makedirs(os.path.join(root, "_v_00000001_bbbb"))
    cl.publish(root, "_v_00000001_bbbb")
    cl.gc(root)
    assert set(os.listdir(root)) == {"_current", "_v_00000001_bbbb"}


def test_repeated_token_rewrites_advance_versions(tmp_path):
    """Regression (review finding): non-hex tokens like 'purge'/'compact'
    failed the version regex, so the SECOND rewrite with the same token
    computed the SAME version name as the live one and mode('overwrite')
    truncated the directory it was reading — the live table was destroyed.
    Every rewrite must land in a fresh version, at any token."""
    root = str(tmp_path / "tbl")

    def writer(content):
        def build(target):
            os.makedirs(target, exist_ok=True)
            with open(os.path.join(target, "data.txt"), "w") as f:
                f.write(content)
        return build

    t1 = cl.commit_rewrite(root, "purge", writer("v1"))
    t2 = cl.commit_rewrite(root, "purge", writer("v2"))
    assert t1 != t2, "second 'purge' rewrite reused the live version dir"
    assert open(os.path.join(cl.resolve(root), "data.txt")).read() == "v2"
    # counter advanced (monotonic line), old version GC'd
    assert cl.current_version(root) == "_v_00000001_purge"
    t3 = cl.commit_rewrite(root, "compact", writer("v3"))
    assert cl.current_version(root) == "_v_00000002_compact"
    assert open(os.path.join(t3, "data.txt")).read() == "v3"
    assert set(os.listdir(root)) == {"_current", "_v_00000002_compact"}


DOCS = [(i, f"t{i % 9} t{(i * 3) % 13} t1 t2 t{i % 5}") for i in range(90)]
NEW_DOCS = [(90 + i, f"t{i % 7} t1 t6") for i in range(30)]


@pytest.fixture()
def staged_engine_dir(spark, vocab, tmp_path):
    """Base build + one append segment + 3 tombstones: the richest
    pre-merge state."""
    d = str(tmp_path / "idx")
    build_postings(
        spark, spark.createDataFrame(DOCS, "doc_id long, text string"),
        vocab, d, cfg=PostingsConfig(num_partitions=4),
    )
    append_postings(
        spark, spark.createDataFrame(NEW_DOCS, "doc_id long, text string"),
        vocab, d,
    )
    delete_docs(spark, d, [0, 5, 91])
    return d


def _topk(spark, d, vocab, q="t1 t2", k=10):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_wand(spark, d, q, vocab, k=k, n_ranges=3).collect()
    ]


def test_merge_crash_points_query_always_succeeds(spark, vocab,
                                                  staged_engine_dir,
                                                  monkeypatch):
    d = staged_engine_dir
    pre_merge = _topk(spark, d, vocab)

    # crash point 1: a partial new version exists, pointer not flipped —
    # queries serve the OLD view untouched
    orphan = os.path.join(d, "_v_77777777_deadbeef")
    os.makedirs(os.path.join(orphan, "postings"))
    assert _topk(spark, d, vocab) == pre_merge

    # crash point 2: merge completed the build + pointer flip but died
    # before gc — queries serve the NEW view; old version still on disk
    real_gc = cl.gc
    monkeypatch.setattr(cl, "gc", lambda root: None)
    import pears_fruit_fly_spark.operators.postings as P

    monkeypatch.setattr(P.cl, "gc", lambda root: None)
    info = merge_segments(spark, d)
    monkeypatch.setattr(cl, "gc", real_gc)
    monkeypatch.setattr(P.cl, "gc", real_gc)
    assert cl.current_version(d) is not None
    leftovers = [c for c in os.listdir(d)
                 if c not in ("_current", cl.current_version(d))]
    assert leftovers, "old version should still be on disk (gc skipped)"
    post_merge = _topk(spark, d, vocab)
    assert list_segments(d) == []
    assert tombstone_count(spark, d) == 0

    # recovery: re-running merge on the already-merged index just gc's
    merge_segments(spark, d)
    assert set(os.listdir(d)) == {"_current", cl.current_version(d)}
    assert _topk(spark, d, vocab) == post_merge

    # merged results are rank-identical to the oracle over survivors
    survivors = [(i, t) for i, t in DOCS + NEW_DOCS if i not in (0, 5, 91)]
    oracle = BM25Oracle(survivors, vocab)
    for q in ("t1 t2", "t3 t4", "t0 t6"):
        got = _topk(spark, d, vocab, q=q)
        want = oracle.topk(q, 10)
        assert [g[0] for g in got] == [w[0] for w in want]
    assert info["n_docs"] == len(survivors)


def test_engine_merge_crash_between_artifacts(spark, vocab, fly_cfg,
                                              pages_pdf, tmp_path,
                                              monkeypatch):
    """api.merge commits signatures, docmap and index separately; a crash
    between artifact commits must leave a CORRECT engine (tombstones still
    mask deletes) and a re-run must finish the purge."""
    from pears_fruit_fly_spark.api import SearchEngine

    eng = SearchEngine(spark, str(tmp_path / "eng"), vocab, fly_cfg,
                       PostingsConfig(num_partitions=4))
    eng.index(spark.createDataFrame(pages_pdf.iloc[:100]))
    victim = eng.search("t1 t3", k=3).collect()[0]["url"]
    eng.delete([victim])

    class Boom(Exception):
        pass

    real = cl.commit_rewrite
    calls = {"n": 0}

    def crashing(root, token, fn):
        calls["n"] += 1
        if calls["n"] == 2:  # die after sigs committed, before docmap
            raise Boom()
        return real(root, token, fn)

    monkeypatch.setattr(cl, "commit_rewrite", crashing)
    with pytest.raises(Boom):
        eng.merge()
    monkeypatch.setattr(cl, "commit_rewrite", real)

    # crashed state: sigs purged, docmap not, tombstones still present —
    # every search mode stays correct
    assert tombstone_count(spark, eng.index_dir) == 1
    assert victim not in {r["url"] for r in eng.search("t1 t3", k=50).collect()}
    assert victim not in {
        r["url"] for r in eng.search("t1 t3", k=50, mode="hamming").collect()
    }
    # re-run completes the purge
    eng.merge()
    assert tombstone_count(spark, eng.index_dir) == 0
    docmap = spark.read.parquet(eng.docmap_path)
    assert docmap.filter(docmap.url == victim).count() == 0
    assert victim not in {r["url"] for r in eng.search("t1 t3", k=50).collect()}


def test_large_delete_volume_distributed_mask(spark, vocab, tmp_path,
                                              monkeypatch):
    """Delete 30% of a corpus with the driver cap forced tiny: the
    tombstones must flow DISTRIBUTED (cogrouped per range, no driver
    array), results rank-identical to the oracle over survivors."""
    import pears_fruit_fly_spark.operators.bm25 as B
    import pears_fruit_fly_spark.operators.postings as P

    docs = [(i, f"t{i % 9} t{(i * 3) % 13} t1 t2 t{i % 5}") for i in range(600)]
    d = str(tmp_path / "bigdel")
    build_postings(
        spark, spark.createDataFrame(docs, "doc_id long, text string"),
        vocab, d, cfg=PostingsConfig(num_partitions=4),
    )
    victims = set(range(0, 600, 3)) | {1, 2}  # 202 ids = ~34%
    delete_docs(spark, d, sorted(victims))
    monkeypatch.setattr(P, "TOMBSTONE_DRIVER_MAX", 50)
    B.invalidate_index_cache(d)

    survivors = [(i, t) for i, t in docs if i not in victims]
    oracle = BM25Oracle(docs, vocab)  # stats stay PRE-delete (Lucene)
    for q in ("t1 t2", "t3 t7"):
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_wand(
                spark, d, q, vocab, k=15, n_ranges=4,
            ).collect()
        ]
        want = [(doc, s) for doc, s in oracle.topk(q, 15 + len(victims))
                if doc not in victims][:15]
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9
    # batch path too
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand_batch

    rows = bm25_topk_wand_batch(spark, d, {0: "t1 t2"}, vocab, k=15,
                                n_ranges=4).collect()
    assert not {r["doc_id"] for r in rows} & victims


def test_delete_fraction_contract(spark, vocab, tmp_path):
    """delete_docs refuses to push tombstones past MAX_TOMBSTONE_FRACTION
    without a merge."""
    docs = [(i, "t1 t2") for i in range(40)]
    d = str(tmp_path / "cap")
    build_postings(
        spark, spark.createDataFrame(docs, "doc_id long, text string"),
        vocab, d, cfg=PostingsConfig(num_partitions=2),
    )
    delete_docs(spark, d, range(0, 16))  # 40%: fine
    with pytest.raises(ValueError, match="merge"):
        delete_docs(spark, d, range(16, 32))  # would be 80%
    merge_segments(spark, d)
    assert tombstone_count(spark, d) == 0
    delete_docs(spark, d, range(16, 20))  # fresh overlay after purge


def _hybrid_reference(spark, eng, vocab, pages, q, prefilter_k, k,
                      dead_urls=()):
    """Expected hybrid top-k, independent of the WAND path: the NumPy BM25
    oracle over every indexed doc (stats stay pre-delete until a merge),
    restricted to the prefilter_k best Hamming docs among the LIVE urls."""
    from pears_fruit_fly_spark.operators.signatures import (
        featurize_query,
        hamming_topk,
    )
    from pears_fruit_fly_spark.sources.wet import dedup_latest

    docmap = spark.read.parquet(eng.docmap_path)
    sigs = spark.read.parquet(eng.sig_path).select("url", "sig")
    if dead_urls:
        sigs = sigs.filter(~F.col("url").isin(list(dead_urls)))
    qsig = featurize_query(q, vocab, eng.fly_cfg, eng.projection)
    cand = {int(r["doc_id"]) for r in hamming_topk(sigs, qsig, prefilter_k)
            .join(docmap, "url").select("doc_id").collect()}
    rows = dedup_latest(pages).join(docmap, "url").select(
        "url", "doc_id", "text").collect()
    url_of = {r["doc_id"]: r["url"] for r in rows}
    oracle = BM25Oracle([(r["doc_id"], r["text"]) for r in rows], vocab)
    return [(url_of[d], d, s) for d, s in oracle.topk(q, oracle.n_docs)
            if d in cand][:k]


def _assert_same_ranking(got, want):
    assert [(u, d) for u, d, _ in got] == [(u, d) for u, d, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9


def test_hybrid_candidate_df_rank_identity(spark, vocab, fly_cfg, pages_pdf,
                                           tmp_path):
    """The DataFrame-candidate hybrid path (no driver collect) must be
    rank-identical to the NumPy oracle restricted to the Hamming top
    prefilter_k."""
    from pears_fruit_fly_spark.api import SearchEngine

    eng = SearchEngine(spark, str(tmp_path / "eng"), vocab, fly_cfg,
                       PostingsConfig(num_partitions=4))
    pages = spark.createDataFrame(pages_pdf.iloc[:150])
    eng.index(pages)
    q = "t1 t3 t5"
    got = [(r["url"], r["doc_id"], r["score"])
           for r in eng.search(q, k=10, mode="hybrid",
                               prefilter_k=40).collect()]
    want = _hybrid_reference(spark, eng, vocab, pages, q, 40, 10)
    assert got
    _assert_same_ranking(got, want)


def test_hybrid_prefilter_skips_deleted_docs(spark, vocab, fly_cfg,
                                             pages_pdf, tmp_path):
    """Between a delete and a merge, tombstoned docs must not take hybrid
    prefilter slots: the prefilter is the Hamming top prefilter_k among
    LIVE docs, exactly as in the hamming mode."""
    from pears_fruit_fly_spark.api import SearchEngine

    eng = SearchEngine(spark, str(tmp_path / "eng"), vocab, fly_cfg,
                       PostingsConfig(num_partitions=4))
    pages = spark.createDataFrame(pages_pdf.iloc[:150])
    eng.index(pages)
    q = "t1 t3 t5"
    top40 = [r["url"] for r in eng.search(q, k=40, mode="hamming").collect()]
    dead = top40[::2]  # 20 of the 40 best Hamming docs
    eng.delete(dead)
    got = [(r["url"], r["doc_id"], r["score"])
           for r in eng.search(q, k=10, mode="hybrid",
                               prefilter_k=40).collect()]
    want = _hybrid_reference(spark, eng, vocab, pages, q, 40, 10, dead)
    assert len(want) == 10
    assert not {u for u, _, _ in got} & set(dead)
    _assert_same_ranking(got, want)


def test_gc_grace_window(tmp_path):
    root = str(tmp_path / "art")
    for n, tok in [(0, "a"), (1, "b"), (2, "c"), (3, "d")]:
        os.makedirs(os.path.join(root, f"_v_{n:08d}_{tok}"))
    os.makedirs(os.path.join(root, "_v_99999999_orphan"))  # crashed later build
    cl.publish(root, "_v_00000003_d")
    cl.gc(root, keep_previous=2)
    assert set(os.listdir(root)) == {
        "_current", "_v_00000003_d", "_v_00000002_c", "_v_00000001_b"
    }
    cl.gc(root)
    assert set(os.listdir(root)) == {"_current", "_v_00000003_d"}


def test_compact_crash_points(spark, vocab, tmp_path):
    """Compaction commits through the postings subdir's own pointer: a
    partial rewrite version without a flipped pointer must be invisible,
    and queries must be correct at every state."""
    from pears_fruit_fly_spark.operators.postings import (
        compact_postings,
        read_postings,
    )

    docs = [(i, f"t{i % 9} t1 t2") for i in range(200)]
    d = str(tmp_path / "cidx")
    build_postings(
        spark, spark.createDataFrame(docs, "doc_id long, text string"),
        vocab, d, cfg=PostingsConfig(num_partitions=2),
    )
    before_q = _topk(spark, d, vocab)
    before_content = sorted(
        (r["term_id"], r["salt"], r["block_id"]) for r in
        read_postings(spark, d).collect()
    )
    proot = os.path.join(cl.resolve(d), "postings")
    # crash state: a partial rewrite version exists, pointer NOT flipped
    partial = os.path.join(proot, cl.version_name(proot, "compact"))
    os.makedirs(os.path.join(partial, "term_bucket=0"), exist_ok=True)
    assert _topk(spark, d, vocab) == before_q
    # completing the compaction reclaims the partial and flips atomically
    compact_postings(spark, d)
    assert _topk(spark, d, vocab) == before_q
    assert sorted(
        (r["term_id"], r["salt"], r["block_id"]) for r in
        read_postings(spark, d).collect()
    ) == before_content
    live_children = os.listdir(proot)
    assert "_current" in live_children
    assert sum(c.startswith("_v_") for c in live_children) == 1


def test_flat_root_rewrite_crash_leaves_table_readable(spark, tmp_path):
    """A commit_rewrite crashing mid-build on a FLAT root (e.g. an engine's
    signatures table before its first purge) must leave the flat table
    fully readable: version dirs are '_'-prefixed so Spark's listing skips
    them, and a re-run completes the rewrite."""
    root = str(tmp_path / "sigs")
    spark.createDataFrame([(i, f"s{i % 3}") for i in range(30)],
                          "id long, seg string") \
        .write.partitionBy("seg").parquet(root)
    assert spark.read.parquet(root).count() == 30

    class Boom(Exception):
        pass

    def crashing_build(target):
        # simulate dying AFTER partially writing the new version
        spark.createDataFrame([(0, "s0")], "id long, seg string") \
            .write.partitionBy("seg").parquet(target)
        raise Boom()

    with pytest.raises(Boom):
        cl.commit_rewrite(root, "purge", crashing_build)
    # flat reads unaffected by the partial hidden version
    assert cl.resolve(root) == root
    assert spark.read.parquet(root).count() == 30
    # re-run completes: pointer flips, old flat files reclaimed
    flat = spark.read.parquet(root)
    cl.commit_rewrite(
        root, "purge",
        lambda p: flat.filter("id >= 10").write.mode("overwrite")
        .partitionBy("seg").parquet(p),
    )
    assert cl.resolve(root) != root
    assert spark.read.parquet(cl.resolve(root)).count() == 20
    assert set(os.listdir(root)) == {"_current", cl.current_version(root)}
