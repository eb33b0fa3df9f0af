"""Positional index + phrase / boolean queries (operators/phrase.py).

Oracle = a pure-Python sliding-window scan over the raw token streams —
independent of every engine code path (codec, shuffle, groupBy algebra).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pears_fruit_fly_spark.config import PostingsConfig
from pears_fruit_fly_spark.operators.bm25 import idf
from pears_fruit_fly_spark.operators.phrase import (
    parse_query,
    phrase_match,
    phrase_topk,
    search_boolean,
)
from pears_fruit_fly_spark.operators.postings import (
    append_postings,
    build_postings,
    delete_docs,
    merge_segments,
    tokens_long,
)

# hand-built corpus: adjacency, OOV position gaps, repeats, multi-line
DOCS = [
    (0, "t1 t2 t3 t4"),            # "t1 t2" once, "t2 t3" once
    (1, "t1 zzz t2 t3"),           # OOV between t1,t2 -> NOT adjacent
    (2, "t2 t1 t2 t1 t2"),         # "t1 t2" twice, "t2 t1" twice
    (3, "t5 t5 t5"),               # repeated-word phrase "t5 t5" -> 2 (overlap)
    (4, "t1\nt2 t9"),              # newline is a separator
    (5, "t3 t4 " * 30 + "t1 t2"),  # long doc, phrase at the end
    (6, "t2"),                     # single token
    (7, "t1  t2"),                 # DOUBLE space: still adjacent (Lucene
                                   # position increments skip separators)
    (8, "t2\n\nt3 t5"),            # blank line: 't2 t3' still adjacent
] + [(10 + i, f"t{i % 7} t{(i + 1) % 7} t6 t1 t2") for i in range(40)]


def _occurrences(text: str, phrase: str) -> int:
    toks = [t for t in text.replace("\n", " ").split(" ") if t]
    ptoks = phrase.split(" ")
    return sum(
        1 for i in range(len(toks) - len(ptoks) + 1)
        if toks[i : i + len(ptoks)] == ptoks
    )


def _oracle_matches(phrase: str, docs=DOCS) -> dict[int, int]:
    out = {}
    for doc_id, text in docs:
        n = _occurrences(text, phrase)
        if n:
            out[doc_id] = n
    return out


@pytest.fixture(scope="module")
def pos_index(spark, vocab, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("posidx") / "idx")
    build_postings(
        spark, spark.createDataFrame(DOCS, "doc_id long, text string"),
        vocab, d,
        cfg=PostingsConfig(num_partitions=4, block_size=8,
                           store_positions=True),
    )
    return d


def test_tokens_long_positions_match_python_reference(spark, vocab):
    from pears_fruit_fly_spark.operators.codec import decode_positions

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = tokens_long(df, vocab, with_positions=True).collect()
    by_doc_term = {(r["doc_id"], r["term_id"]): r for r in rows}
    for doc_id, text in DOCS:
        # positions = ordinals among NON-EMPTY tokens (separator runs do
        # not advance)
        toks = [t for t in text.replace("\n", " ").split(" ") if t]
        want: dict[int, list[int]] = {}
        for pos, tok in enumerate(toks):
            tid = vocab.term_to_id.get(tok)
            if tid is not None:
                want.setdefault(tid, []).append(pos)
        for tid, plist in want.items():
            r = by_doc_term[(doc_id, tid)]
            flat, _ = decode_positions(bytes(r["pos"]), np.array([r["tf"]]))
            assert list(flat) == plist, (doc_id, tid)
            assert r["tf"] == len(plist)


@pytest.mark.parametrize("phrase", ["t1 t2", "t2 t3", "t5 t5", "t3 t4 t3",
                                    "t2 t1 t2"])
def test_phrase_match_vs_bruteforce(spark, vocab, pos_index, phrase):
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_match(spark, pos_index, phrase, vocab).collect()
    }
    assert got == _oracle_matches(phrase), phrase


def test_oov_gap_blocks_adjacency(spark, vocab, pos_index):
    """doc 1 = 't1 zzz t2 t3': the OOV token advances positions, so the
    phrase 't1 t2' must NOT match there (but 't2 t3' must). Separator runs
    do NOT advance positions: doc 7 ('t1  t2') and doc 8 (blank line
    before 't3') keep their phrases adjacent (review finding — raw split
    ordinals broke phrase recall on multi-space extracted text)."""
    m12 = {r["doc_id"] for r in
           phrase_match(spark, pos_index, "t1 t2", vocab).collect()}
    m23 = {r["doc_id"] for r in
           phrase_match(spark, pos_index, "t2 t3", vocab).collect()}
    assert 1 not in m12
    assert 1 in m23
    assert 7 in m12
    assert 8 in m23


def test_phrase_with_oov_term_matches_nothing(spark, vocab, pos_index):
    assert phrase_match(spark, pos_index, "t1 zzz", vocab).count() == 0
    assert phrase_match(spark, pos_index, "", vocab).count() == 0


def test_phrase_requires_positional_build(spark, vocab, tmp_path):
    d = str(tmp_path / "noposidx")
    build_postings(
        spark, spark.createDataFrame(DOCS[:5], "doc_id long, text string"),
        vocab, d, cfg=PostingsConfig(num_partitions=2),
    )
    with pytest.raises(ValueError, match="store_positions"):
        phrase_match(spark, d, "t1 t2", vocab).collect()


def test_phrase_topk_scores_match_manual_bm25(spark, vocab, pos_index):
    """phrase-as-pseudo-term BM25: idf(df_phrase) * impact(tf_phrase, dl)."""
    from pears_fruit_fly_spark.plans import manifest as mf
    from pears_fruit_fly_spark.plans import commitlog as cl

    info = mf.read_build_info(cl.resolve(pos_index))
    n_docs, avgdl, k1, b = (info["n_docs"], info["avgdl"], info["k1"],
                            info["b"])
    oracle = _oracle_matches("t1 t2")
    dls = {doc_id: len([t for t in text.replace("\n", " ").split(" ")
                        if vocab.term_to_id.get(t) is not None])
           for doc_id, text in DOCS}
    w = idf(n_docs, len(oracle))
    want = sorted(
        ((doc,
          w * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dls[doc] / avgdl)))
         for doc, tf in oracle.items()),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [(r["doc_id"], r["score"])
           for r in phrase_topk(spark, pos_index, "t1 t2", vocab, k=5).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    assert np.allclose([s for _, s in got], [s for _, s in want], atol=1e-9)


def test_phrase_across_append_and_merge(spark, vocab, pos_index, tmp_path):
    """Appended segments inherit store_positions; the merged-on-read view
    answers phrases over base+segment, and a physical merge carries the
    position bytes through decode→re-encode untouched."""
    import shutil

    d = str(tmp_path / "appidx")
    shutil.copytree(pos_index, d)
    new_docs = [(1000, "t1 t2 t1 t2"), (1001, "t9 t1 zzz t2")]
    append_postings(
        spark, spark.createDataFrame(new_docs, "doc_id long, text string"),
        vocab, d,
    )
    want = _oracle_matches("t1 t2", DOCS + new_docs)
    got = {r["doc_id"]: r["phrase_tf"]
           for r in phrase_match(spark, d, "t1 t2", vocab).collect()}
    assert got == want
    merge_segments(spark, d)
    got_merged = {r["doc_id"]: r["phrase_tf"]
                  for r in phrase_match(spark, d, "t1 t2", vocab).collect()}
    assert got_merged == want


def test_phrase_masks_tombstones(spark, vocab, pos_index, tmp_path):
    import shutil

    d = str(tmp_path / "delidx")
    shutil.copytree(pos_index, d)
    want = _oracle_matches("t1 t2")
    victim = sorted(want)[0]
    delete_docs(spark, d, [victim])
    got = {r["doc_id"] for r in phrase_match(spark, d, "t1 t2", vocab).collect()}
    assert got == set(want) - {victim}


def test_parse_query():
    q = parse_query('+spark -flink "fruit fly" hashing "a b" -"c d"')
    assert q["must"] == ["spark"]
    assert q["must_not"] == ["flink"]
    assert q["phrases"] == ["fruit fly", "a b"]
    assert q["not_phrases"] == ["c d"]
    assert q["should"] == ["hashing"]
    assert parse_query("plain words") == {
        "must": [], "must_not": [], "phrases": [], "not_phrases": [],
        "should": ["plain", "words"],
    }


def test_boolean_search_vs_bruteforce(spark, vocab, pos_index):
    """must/must_not filter; ranking = BM25 over must+should restricted to
    the filtered candidates — cross-checked against a brute-force doc scan
    plus the NumPy BM25 oracle filtered to those candidates."""
    from pears_fruit_fly_spark.oracle.bm25_numpy import BM25Oracle

    def docs_with(tok):
        return {d for d, txt in DOCS
                if tok in [t for t in txt.replace("\n", " ").split(" ")]}

    want_cand = (docs_with("t1") & docs_with("t2")) - docs_with("t9")
    got = [(r["doc_id"], round(r["score"], 6)) for r in search_boolean(
        spark, pos_index, "+t1 +t2 -t9 t6", vocab, k=10).collect()]
    assert {d for d, _ in got} <= want_cand
    ref = [(d, round(s, 6))
           for d, s in BM25Oracle(DOCS, vocab).topk("t1 t2 t6", len(DOCS))
           if d in want_cand][:10]
    assert got == ref


def test_boolean_phrase_clause_and_pure_not(spark, vocab, pos_index):
    m = _oracle_matches("t1 t2")
    got = {r["doc_id"] for r in search_boolean(
        spark, pos_index, '"t1 t2" t6', vocab, k=50).collect()}
    assert got <= set(m)
    assert got  # ranked subset of phrase matches, never outside them
    # pure NOT + should: NOT subtracts from the scored OR-universe
    got2 = {r["doc_id"] for r in search_boolean(
        spark, pos_index, "t2 -t3", vocab, k=100).collect()}
    want2 = {d for d, txt in DOCS
             if "t2" in txt.replace("\n", " ").split(" ")
             and "t3" not in txt.replace("\n", " ").split(" ")}
    assert got2 == want2


def test_boolean_pure_filter_no_scoring_terms(spark, vocab, pos_index):
    got = [r["doc_id"] for r in search_boolean(
        spark, pos_index, {"phrases": ["t1 t2"]}, vocab, k=100).collect()]
    assert got == sorted(_oracle_matches("t1 t2"))


def test_boolean_not_phrase_clause(spark, vocab, pos_index):
    """-"t1 t2" excludes exact-phrase matches from the candidates."""
    got = {r["doc_id"] for r in search_boolean(
        spark, pos_index, '+t2 -"t1 t2"', vocab, k=100).collect()}
    want = {d for d, txt in DOCS
            if "t2" in txt.replace("\n", " ").split(" ")} \
        - set(_oracle_matches("t1 t2"))
    assert got == want


def test_search_engine_phrase_and_boolean_facade(spark, vocab, tmp_path):
    """SearchEngine end-to-end: positional build via the facade, phrase +
    boolean search return (url, doc_id, score) joined to the docmap."""
    from pears_fruit_fly_spark.api import SearchEngine
    from pears_fruit_fly_spark.config import FlyConfig

    pages = spark.createDataFrame(
        [(f"http://x/{i}", t, i) for i, t in DOCS],
        "url string, text string, warc_ts long",
    )
    eng = SearchEngine(
        spark, str(tmp_path / "eng"), vocab,
        fly_cfg=FlyConfig(pn_size=vocab.size, kc_size=64),
        postings_cfg=PostingsConfig(num_partitions=4, store_positions=True),
    )
    eng.index(pages)

    def orig_ids(rows):  # engine assigns its own doc ids; map back via url
        return {int(r["url"].rsplit("/", 1)[1]) for r in rows}

    hits = eng.search_phrase("t1 t2", k=5).collect()
    assert hits and all(r["url"].startswith("http://x/") for r in hits)
    want_docs = set(_oracle_matches("t1 t2"))
    assert orig_ids(hits) <= want_docs
    bhits = eng.search_boolean('+t1 -t9 "t1 t2"', k=20).collect()
    assert bhits
    t9_docs = {d for d, txt in DOCS
               if "t9" in txt.replace("\n", " ").split(" ")}
    assert orig_ids(bhits) <= want_docs - t9_docs


def test_phrase_scan_is_partition_pruned(spark, vocab, pos_index):
    """The phrase decode must scan ONLY the phrase terms' buckets (same
    pruning contract as the WAND scatter) — at 4096 buckets this is the
    difference between a 2-bucket read and a full-index read."""
    df = phrase_match(spark, pos_index, "t1 t2", vocab)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1][:160]
    assert "term_bucket" in pf
    assert "In(term_id" in plan or "EqualTo(term_id" in plan


def test_wand_ignores_positions_column(spark, vocab, pos_index):
    """BM25 over a positional index must not ship position bytes through
    the scatter (the positions column is dropped before the exchange) and
    must score identically to a tf-only build."""
    from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand

    df = bm25_topk_wand(spark, pos_index, "t1 t2 t6", vocab, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]
    assert "positions" not in plan.split("Exchange")[1][:2000]
    assert got  # non-empty, deterministic


def _doc_terms(vocab) -> dict[int, set[int]]:
    """doc_id -> the in-vocab term ids of its raw token list."""
    return {
        d: {vocab.term_to_id[t] for t in txt.replace("\n", " ").split(" ")
            if t in vocab.term_to_id}
        for d, txt in DOCS
    }


def test_candidates_match_set_reference(spark, vocab, pos_index):
    """The boolean candidate aggregate equals a set reference over the raw
    token lists for every clause shape: must / any-universe, must_not terms
    that overlap must or should (Lucene: an excluded term always excludes),
    terms with no postings, and more terms than any fixed-width mask."""
    from pears_fruit_fly_spark.operators.phrase import _candidates

    t = {f"t{i}": vocab.term_to_id[f"t{i}"] for i in range(10)}
    terms = _doc_terms(vocab)
    absent = 999999  # an id with no postings

    def reference(must, nots, anys):
        return {
            d for d, held in terms.items()
            if (set(must) <= held if must else set(anys) & held)
            and not set(nots) & held
        }

    no_postings = sorted(set(range(vocab.size)) - set(t.values()))
    cases = [
        ([t["t1"], t["t2"]], [], []),                 # must only
        ([t["t1"], t["t2"]], [t["t9"]], []),          # must + not
        ([t["t1"]], [t["t3"], t["t9"]], []),          # must + 2 nots
        ([], [t["t3"]], [t["t2"], t["t5"]]),          # any-universe + not
        ([], [], [t["t2"]]),                          # any only
        ([t["t1"], absent], [], []),                  # missing must term
        ([], [t["t9"]], [absent]),                    # missing any universe
        ([t["t1"]], [t["t1"]], []),                   # +t1 -t1
        ([], [t["t1"]], [t["t1"], t["t2"]]),          # t1 t2 -t1
        ([], [t["t5"]], [t["t2"], t["t5"]]),          # not term also should
        ([t["t1"], t["t2"]], [t["t2"], t["t9"]], []), # not term also must
        ([t["t1"]], [absent], []),                    # OOV must_not term
        ([t["t1"], t["t2"]] * 35, [t["t9"]], []),     # 70 must terms (dups)
        ([t["t1"]] + no_postings[:69], [], []),       # 70 distinct must terms
        ([], [t["t9"]], list(t.values()) + no_postings[:60]),  # 70 any terms
    ]
    for must, nots, anys in cases:
        got = {r["doc_id"] for r in
               _candidates(spark, pos_index, must, nots, anys).collect()}
        assert got == reference(must, nots, anys), (must, nots, anys)
    assert not reference([t["t1"]], [t["t1"]], [])
    assert reference([t["t1"], t["t2"]] * 35, [t["t9"]], [])


def test_candidate_plan_has_one_exchange(spark, vocab, pos_index):
    """`+t1 +t2 -t9` plans as one partial/final aggregate around ONE
    doc_id exchange over a partition-pruned scan. A countDistinct form
    would add an Expand and a second exchange."""
    from pears_fruit_fly_spark.operators.phrase import _candidates

    t = vocab.term_to_id
    df = _candidates(spark, pos_index, [t["t1"], t["t2"]], [t["t9"]], [])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "Expand" not in plan, plan
    assert "term_bucket" in plan.split("PartitionFilters:")[1][:160]


_WORDS = [f"t{i}" for i in range(10)] + ["zzz"]  # zzz: out of vocabulary


@settings(max_examples=20, derandomize=True, deadline=None)
@given(
    must=st.lists(st.sampled_from(_WORDS), max_size=3),
    should=st.lists(st.sampled_from(_WORDS), max_size=3),
    must_not=st.lists(st.sampled_from(_WORDS), max_size=3),
    phrase=st.one_of(st.none(), st.lists(st.sampled_from(_WORDS),
                                         min_size=2, max_size=3)),
)
def test_boolean_search_differential(spark, vocab, pos_index, must, should,
                                     must_not, phrase):
    """search_boolean's doc set (k above the corpus size) equals a set
    reference over the raw token lists for overlapping, duplicate and OOV
    clauses with an optional phrase."""
    t2i = vocab.term_to_id
    terms = _doc_terms(vocab)
    query = " ".join(["+" + w for w in must] + ["-" + w for w in must_not]
                     + should
                     + ([f'"{" ".join(phrase)}"'] if phrase else []))
    got = {r["doc_id"] for r in
           search_boolean(spark, pos_index, query, vocab, k=100).collect()}

    need = {t2i.get(w, -1) for w in must}
    banned = {t2i[w] for w in must_not if w in t2i}
    scoring = {t2i[w] for w in must + should if w in t2i}
    if phrase is None:
        in_phrase = set(terms)
    elif all(w in t2i for w in phrase):
        in_phrase = set(_oracle_matches(" ".join(phrase)))
    else:
        in_phrase = set()
    want = {
        d for d, held in terms.items()
        if need <= held and d in in_phrase and not banned & held
        and (scoring & held if must + should else phrase is not None)
    }
    assert got == want, query
