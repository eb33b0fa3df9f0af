"""The k-row result tail of SearchEngine searches: every mode comes back
ranked, building a search submits no Spark job, the url tail stays inside a
small job budget, and tie order holds across every docmap layout."""

from __future__ import annotations

import pandas as pd
import pytest

from pears_fruit_fly_spark.api import SearchEngine
from pears_fruit_fly_spark.config import PostingsConfig
from pears_fruit_fly_spark.operators.signatures import featurize_query
from pears_fruit_fly_spark.oracle.bm25_numpy import BM25Oracle


@pytest.fixture(scope="module")
def engine(spark, vocab, fly_cfg, pages_pdf, tmp_path_factory):
    eng = SearchEngine(spark, str(tmp_path_factory.mktemp("tail")), vocab,
                       fly_cfg, PostingsConfig(num_partitions=4))
    eng.index(spark.createDataFrame(pages_pdf.iloc[:150]))
    return eng


def _popcount64(x: int) -> int:
    return bin(x & 0xFFFFFFFFFFFFFFFF).count("1")


def test_hamming_mode_returns_ranked_rows(spark, vocab, engine):
    """hamming mode returns its k rows in rank order (hamming asc, url
    asc), equal to a brute-force ranking over every signature."""
    q, k = "t1 t3", 40
    qsig = [int(w) for w in featurize_query(q, vocab, engine.fly_cfg,
                                            engine.projection)]
    ranked = sorted(
        (sum(_popcount64(a ^ b) for a, b in zip(r["sig"], qsig)), r["url"])
        for r in spark.read.parquet(engine.sig_path).select("url", "sig")
        .collect()
    )[:k]
    got = [(r["hamming"], r["url"])
           for r in engine.search(q, k=k, mode="hamming").collect()]
    assert got == ranked


def _drain(spark):
    # job-group bookkeeping is filled by the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.mark.parametrize("mode,budget", [("bm25", 3), ("hamming", 2),
                                         ("hybrid", 5)])
def test_facade_search_job_budget(spark, engine, mode, budget):
    """With a warm engine, building a search submits no Spark job, and its
    collect() stays within the mode's job budget, with no parquet schema
    inference among the jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    q = "t1 t3 t5"
    engine.search(q, k=10, mode=mode).collect()  # warm index caches
    group = f"search-tail-{mode}"
    try:
        sc.setJobGroup(group, "job budget guard")
        top = engine.search(q, k=10, mode=mode)
        _drain(spark)
        assert list(tracker.getJobIdsForGroup(group)) == []
        assert top.collect()
        _drain(spark)
        jobs = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(jobs) <= budget, (mode, len(jobs))
    stage_names = [tracker.getStageInfo(s).name for j in jobs
                   for s in tracker.getJobInfo(j).stageIds]
    assert not [n for n in stage_names if n.startswith("parquet at")]


def _tie_pages(first: int, n: int, tied: set[int]) -> pd.DataFrame:
    texts = [
        "t1 t2 t3 t4 t5" if i in tied else f"t{i % 7} t9 t{10 + i % 11} t1"
        for i in range(first, first + n)
    ]
    return pd.DataFrame({
        "url": [f"https://tie.example/{i}" for i in range(first, first + n)],
        "warc_ts": pd.Timestamp("2024-01-01", tz="UTC"),
        "text": texts,
    })


def test_tie_order_across_docmap_versions(spark, vocab, fly_cfg, tmp_path):
    """A top-k with equal scores comes back (score desc, doc_id asc) through
    collect() and toPandas(), on a fresh build, after an append (docmap
    parts added in place) and after delete + merge (commit-log docmap
    version), matching BM25Oracle each time."""
    eng = SearchEngine(spark, str(tmp_path / "eng"), vocab, fly_cfg,
                       PostingsConfig(num_partitions=4))
    base = _tie_pages(0, 40, set(range(3, 40, 5)))
    extra = _tie_pages(40, 10, {41, 44, 47})
    q, k = "t1 t2", 12

    def check(pages: pd.DataFrame):
        docmap = {r["url"]: r["doc_id"] for r in
                  spark.read.parquet(eng.docmap_path).collect()}
        live = pages[pages.url.isin(list(docmap))]
        oracle = BM25Oracle(
            [(docmap[u], t) for u, t in zip(live.url, live.text)], vocab
        )
        want = oracle.topk(q, k)
        scores = [s for _, s in want]
        assert len(set(scores)) < len(scores) - 3  # several tied ranks
        df = eng.search(q, k=k)
        pdf = df.toPandas()
        for got in ([(r["doc_id"], r["score"]) for r in df.collect()],
                    list(zip(pdf["doc_id"], pdf["score"]))):
            assert [d for d, _ in got] == [d for d, _ in want]
            assert all(abs(g - w) < 1e-9
                       for (_, g), (_, w) in zip(got, want))

    eng.index(spark.createDataFrame(base))
    check(base)
    both = pd.concat([base, extra], ignore_index=True)
    eng.append(spark.createDataFrame(extra))
    check(both)
    eng.delete(["https://tie.example/8", "https://tie.example/44"])
    eng.merge()
    check(both)
