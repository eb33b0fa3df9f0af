"""Capture .explain('formatted') for the round-6-touched queries/operators.

Usage: python scripts/explains_r06.py <repo_root> <out_dir> <suffix>
(run once against the round-start worktree for *_before.txt and once
against the current tree for *_after.txt).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT, OUT, SUFFIX = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    import importlib.util

    from pears_fruit_fly_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "entry_r06", os.path.join(ROOT, "__spark_entry__.py")
    )
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)

    spark = get_spark("explains-r06", master="local[8]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    def dump(name: str, df) -> None:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT, f"{name}_{SUFFIX}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("wrote", name, SUFFIX, flush=True)

    for q in ("q_bm25_topk", "q_bm25_scores", "q_minhash_rankdict",
              "q_simhash_rankdict", "q_jaccard_pairs"):
        dump(q, e.queries()[q](spark, SF_DIR))

    # sig_build / piece_encode / staging / wand plans (operators, not
    # declared queries — captured for the bench-leg claims)
    import numpy as np
    import pandas as pd

    from pears_fruit_fly_spark.config import FlyConfig, PostingsConfig
    from pears_fruit_fly_spark.fixtures.webtext import (
        make_vocab_file_lines, make_web_pages,
    )
    from pears_fruit_fly_spark.functions.vocab import parse_vocab_lines
    from pears_fruit_fly_spark.operators.signatures import build_signatures
    from pears_fruit_fly_spark.operators.pieces import piece_encode
    from pyspark.sql import functions as F
    import tempfile

    work = tempfile.mkdtemp(prefix="pears_expl_")
    pdf = make_web_pages(n=2000, v=2000)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(work + "/p")
    pages = spark.read.parquet(work + "/p")
    vocab = parse_vocab_lines(make_vocab_file_lines(2000))
    fly_cfg = FlyConfig(pn_size=2000, kc_size=512, proj_size=8,
                        top_words=250, wta_percent=10.0)
    dump("sig_build", build_signatures(spark, pages, vocab, fly_cfg))

    spm_scores = {"▁" + t: float(lp)
                  for t, lp in zip(vocab.terms, vocab.logprobs)}
    for ch in "t0123456789":
        spm_scores[ch] = -12.0
    sample = spark.read.parquet(work + "/p").limit(500)
    dump("piece_encode",
         piece_encode(sample, spm_scores).agg(F.sum(F.length("text"))))

    # staging plan: the token source + bucket exchange the build executes
    from pears_fruit_fly_spark.operators import postings as P

    docs = pages.select(
        F.monotonically_increasing_id().alias("doc_id"), "text"
    )
    staged = P.tokens_blobs(docs, vocab, 16, with_positions=True).repartition(
        16, "term_bucket"
    )
    dump("positional_staging", staged)

    # WAND scatter plan over a small real index
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand
    from pears_fruit_fly_spark.operators.docids import assign_doc_ids
    from pears_fruit_fly_spark.sources.wet import dedup_latest

    clean = dedup_latest(pages)
    ids = assign_doc_ids(clean)
    P.build_postings(
        spark, clean.join(ids, "url"), vocab, work + "/idx",
        cfg=PostingsConfig(num_partitions=16, skew_df_threshold=5000),
    )
    dump("bm25_wand",
         bm25_topk_wand(spark, work + "/idx", "t3 t7 t11", vocab, k=10,
                        n_ranges=8))
    spark.stop()


if __name__ == "__main__":
    main()
