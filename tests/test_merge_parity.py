"""Segment merge parity: base + append segment + deletes, merged with the
tombstones below and above the driver cap, equals a fresh build of the
surviving docs — block for block and term for term, with a non-default
salt layout. Also: no staged tokens outlive a finished build, append or
merge, and a merge submits no parquet schema-inference job."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

import pears_fruit_fly_spark.operators.postings as P
from pears_fruit_fly_spark.config import PostingsConfig
from pears_fruit_fly_spark.operators.postings import (
    append_postings,
    build_postings,
    delete_docs,
    merge_segments,
    read_postings,
    read_term_stats,
)
from pears_fruit_fly_spark.plans import manifest as mf

N_BASE, N_SEG = 160, 80


def _docs(vocab, n, seed):
    """Zipf-ish texts: the head terms pass the skew threshold and get
    salted into several sub-partitions."""
    rng = np.random.default_rng(seed)
    ranks = np.minimum(rng.zipf(1.3, size=(n, 40)), 120) - 1
    return [" ".join(vocab.terms[int(t)] for t in row[: rng.integers(5, 40)])
            for row in ranks]


def _cfg(positional):
    # max_docs_per_subpartition is NOT the default, so a merge that
    # re-salted with the default would split blocks differently
    return PostingsConfig(num_partitions=4, skew_df_threshold=30,
                          max_docs_per_subpartition=20,
                          store_positions=positional)


def _snapshot(spark, d):
    blocks = sorted(
        (r["term_id"], r["salt"], r["block_id"], r["n"], r["first_doc"],
         r["last_doc"], bytes(r["doc_gaps"]), bytes(r["tfs"]),
         bytes(r["dls"]),
         bytes(r["positions"]) if r["positions"] is not None else None,
         r["max_tf"], r["max_impact"], r["term_bucket"])
        for r in read_postings(spark, d).collect()
    )
    stats = sorted(tuple(r) for r in read_term_stats(spark, d).collect())
    return blocks, stats


def _staging_dirs(root):
    return [p for p, dirs, _ in os.walk(root) if "_staging_tokens" in dirs]


def _merge_stage_names(spark, d, group):
    """merge_segments(d) inside a job group -> its stage names."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, "merge parity")
        merge_segments(spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert jobs
    return [tracker.getStageInfo(s).name for j in jobs
            for s in tracker.getJobInfo(j).stageIds
            if tracker.getStageInfo(s) is not None]


@pytest.mark.parametrize("positional", [False, True],
                         ids=["tf_only", "positional"])
def test_merge_equals_fresh_build_of_survivors(spark, vocab, tmp_path,
                                               monkeypatch, positional):
    texts = _docs(vocab, N_BASE + N_SEG, seed=5)
    docs = list(enumerate(texts))
    schema = "doc_id long, text string"
    cfg = _cfg(positional)
    pre = str(tmp_path / "pre")
    build_postings(spark, spark.createDataFrame(docs[:N_BASE], schema),
                   vocab, pre, cfg=cfg)
    assert not _staging_dirs(pre)
    append_postings(spark, spark.createDataFrame(docs[N_BASE:], schema),
                    vocab, pre, cfg=cfg)
    assert not _staging_dirs(pre)
    victims = list(range(3, N_BASE + N_SEG, 7))  # base and segment docs
    assert delete_docs(spark, pre, victims) == len(victims)

    below, above = str(tmp_path / "below"), str(tmp_path / "above")
    shutil.copytree(pre, below)
    shutil.copytree(pre, above)
    names = _merge_stage_names(spark, below, f"merge-below-{positional}")
    monkeypatch.setattr(P, "TOMBSTONE_DRIVER_MAX", 5)
    names += _merge_stage_names(spark, above, f"merge-above-{positional}")
    monkeypatch.undo()
    assert not [n for n in names if n.startswith("parquet at")]

    fresh = str(tmp_path / "fresh")
    survivors = [(i, t) for i, t in docs if i not in set(victims)]
    build_postings(spark, spark.createDataFrame(survivors, schema), vocab,
                   fresh, cfg=cfg)
    want = _snapshot(spark, fresh)
    assert any(key[1] > 0 for key in want[0])  # salting really happened
    if positional:
        assert all(key[9] for key in want[0])
    for d in (below, above):
        assert _snapshot(spark, d) == want, d
        info, ref = mf.read_build_info(d), mf.read_build_info(fresh)
        assert (info["n_docs"], info["avgdl"]) == (ref["n_docs"],
                                                   ref["avgdl"])
        assert info["staging_format"] == "blobs"
        assert not _staging_dirs(d)
