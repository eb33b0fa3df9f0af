"""Physical-plan assertions: the properties that carry 100 TB scaling must
be visible in .explain output, not just hoped for (task brief: iterate until
it's the plan you'd want)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pears_fruit_fly_spark.sources.wet import ingest_filter


@pytest.fixture(scope="module")
def pages_parquet(spark, pages_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "pages")
    spark.createDataFrame(pages_pdf).write.parquet(d)
    return d


def test_ingest_filters_push_into_parquet_scan(spark, pages_parquet):
    df = ingest_filter(spark.read.parquet(pages_parquet), lang="en", min_chars=1000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan
    assert "IsNotNull(text)" in plan or "IsNotNull(lang)" in plan
    assert "EqualTo(lang,en)" in plan


def test_column_pruning_html_never_read_on_query_path(spark, pages_parquet):
    """Projecting url/text must NOT read the (huge) html binary column."""
    df = spark.read.parquet(pages_parquet).select("url", F.length("text").alias("l"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = [l for l in plan.split("\n") if "FileScan" in l][0]
    assert "html" not in scan_line
    assert "ReadSchema" in scan_line


def test_hamming_topk_compiles_to_take_ordered(spark, pages_df, vocab, fly_cfg):
    from pears_fruit_fly_spark.operators.signatures import (
        build_signatures,
        featurize_query,
        hamming_topk,
    )

    sigs = build_signatures(spark, pages_df, vocab, fly_cfg)
    q = featurize_query("t1 t2", vocab, fly_cfg)
    plan = hamming_topk(sigs, q, 5)._jdf.queryExecution().executedPlan().toString()
    # global top-k must be per-partition heaps + k-row gather, NOT a sort
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_staging_write_single_exchange(spark, pages_df, vocab):
    """The index-build staging plan (VERDICT r1 #5): the tokenize + pack
    kernel computes tf AND dl narrowly and emits blob rows already tagged
    with their term bucket, so the only wide exchange in the whole staging
    write is the term_bucket repartition — and no join at all."""
    from pears_fruit_fly_spark.operators.postings import tokens_blobs

    pages_ids = pages_df.withColumn("doc_id", F.xxhash64("url"))
    staged = tokens_blobs(pages_ids, vocab, 32).repartition(32, "term_bucket")
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" not in plan


def test_wand_scan_is_partition_pruned(spark, pages_df, vocab, tmp_path_factory):
    from pears_fruit_fly_spark.config import FlyConfig, PostingsConfig
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand
    from pears_fruit_fly_spark.operators.docids import assign_doc_ids
    from pears_fruit_fly_spark.operators.postings import build_postings
    from pears_fruit_fly_spark.sources.wet import dedup_latest

    clean = dedup_latest(pages_df)
    pages_ids = clean.join(assign_doc_ids(clean, "url"), "url")
    d = str(tmp_path_factory.mktemp("wandplan"))
    build_postings(spark, pages_ids, vocab, d,
                   cfg=PostingsConfig(num_partitions=8, skew_df_threshold=1 << 30))
    df = bm25_topk_wand(spark, d, "t3", vocab, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1][:160]
    assert "term_bucket" in pf  # directory pruning to the query's buckets
    # row-group pruning on term ids (single-term folds In -> EqualTo)
    assert "In(term_id" in plan or "EqualTo(term_id" in plan
    assert "TakeOrderedAndProject" in plan


def test_merged_segment_scan_is_pruned_on_both_sides(spark, vocab, tmp_path_factory):
    """Append segments: the query-term bucket filter must push through the
    UNION so base AND segment scans are both partition-pruned."""
    import re

    from pears_fruit_fly_spark.config import PostingsConfig
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand
    from pears_fruit_fly_spark.operators.postings import (
        append_postings,
        build_postings,
    )

    d = str(tmp_path_factory.mktemp("segplan")) + "/idx"
    cfg = PostingsConfig(num_partitions=8)
    docs = [(i, f"t{i % 7} t{(i * 3) % 11} t1") for i in range(60)]
    build_postings(spark, spark.createDataFrame(docs, "doc_id long, text string"),
                   vocab, d, cfg=cfg)
    docs2 = [(i, f"t{i % 5} t2") for i in range(60, 100)]
    append_postings(spark, spark.createDataFrame(docs2, "doc_id long, text string"),
                    vocab, d, cfg=cfg)
    plan = (
        bm25_topk_wand(spark, d, "t1 t2", vocab, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    pruned = re.findall(r"PartitionFilters: \[[^\]]*term_bucket[^\]]*IN[^\]]*\]", plan)
    assert len(pruned) == 2  # base scan AND segment scan


def test_cosine_topk_single_stage_no_wide_shuffle(spark):
    import numpy as np

    from pears_fruit_fly_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = (
        cosine_topk(emb, rows[0][1], 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan

def test_pmi_collocations_topk_is_take_ordered(spark, pages_df):
    """Global PMI top-k must be TakeOrderedAndProject (per-partition heaps
    + k-row gather), not a single-partition global window funnelling every
    surviving bigram through one task (ADVICE r3)."""
    from pears_fruit_fly_spark.operators.textstats import pmi_collocations

    df = pmi_collocations(pages_df, "text", k=10, min_count=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # no rangepartitioning exchange: the only sort remaining is the k-row
    # rank window AFTER the limit (SinglePartition over <= k rows is fine)
    assert "Exchange rangepartitioning" not in plan


def test_entry_global_topk_queries_compile_to_take_ordered(spark):
    """r4: the driver queries that rank a FULL scored input (bm25
    relational, embedding cosine, customer rollup) must take their top-k
    via TakeOrderedAndProject, with the rank window running over only
    the k-row result — never a whole-input single-partition window."""
    import __spark_entry__ as e

    for name in ("q_bm25_topk", "q_embedding_topk", "q_top_customers"):
        df = e.queries()[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
        assert "Exchange rangepartitioning" not in plan, name
