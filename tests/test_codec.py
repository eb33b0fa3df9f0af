"""Codec properties: round-trip identity, block-max soundness (SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pears_fruit_fly_spark.operators.codec import (
    bm25_impact,
    decode_block,
    delta_decode,
    delta_encode,
    encode_blocks,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(0, 2**40), max_size=300))
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    got = varbyte_decode(varbyte_encode(arr))
    np.testing.assert_array_equal(got, arr)


def test_varbyte_width_boundaries():
    # 7-bit group boundaries: 127/128, 16383/16384, 2^21-1/2^21 (FIXTURES.md §5)
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**63 - 1],
                    dtype=np.uint64)
    enc = varbyte_encode(vals)
    np.testing.assert_array_equal(varbyte_decode(enc), vals)
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(st.sets(st.integers(0, 2**40), min_size=1, max_size=400))
@settings(max_examples=60, deadline=None)
def test_delta_roundtrip(idset):
    ids = np.array(sorted(idset), dtype=np.uint64)
    first, gaps = delta_encode(ids)
    np.testing.assert_array_equal(delta_decode(first, gaps), ids)


@given(
    st.sets(st.integers(0, 10**7), min_size=1, max_size=600),
    st.integers(1, 50),
)
@settings(max_examples=40, deadline=None)
def test_block_roundtrip_and_blockmax_soundness(idset, seed):
    rng = np.random.default_rng(seed)
    ids = np.array(sorted(idset), dtype=np.int64)
    tfs = rng.integers(1, 300, size=ids.size).astype(np.int64)
    dls = rng.integers(1, 5000, size=ids.size).astype(np.int64)
    avgdl, k1, b = 321.5, 1.2, 0.75
    blocks = encode_blocks(ids, tfs, dls, avgdl, k1, b, block_size=128)

    out_ids, out_tfs, out_dls = [], [], []
    for blk in blocks:
        i, t, d = decode_block(blk)
        out_ids.append(i); out_tfs.append(t); out_dls.append(d)
        # block-max soundness: stored max_impact >= every member impact
        imps = bm25_impact(t, d, avgdl, k1, b)
        assert blk["max_impact"] >= imps.max() - 1e-12
        assert blk["max_tf"] == t.max()
        assert blk["first_doc"] == i[0] and blk["last_doc"] == i[-1]
        assert blk["n"] == i.size <= 128
    np.testing.assert_array_equal(np.concatenate(out_ids), ids)
    np.testing.assert_array_equal(np.concatenate(out_tfs), tfs)
    np.testing.assert_array_equal(np.concatenate(out_dls), dls)


def test_tf_one_runs_and_255():
    ids = np.arange(0, 300, dtype=np.int64)
    tfs = np.ones(300, dtype=np.int64); tfs[7] = 255
    dls = np.full(300, 100, dtype=np.int64)
    blocks = encode_blocks(ids, tfs, dls, 100.0, 1.2, 0.75)
    # tf=1 runs encode to single zero bytes; the lone tf=255 (stored 254) takes 2
    assert len(blocks[0]["tfs"]) == 129
    i, t, d = decode_block(blocks[0])
    assert t[7] == 255 and (np.delete(t, 7) == 1).all()


def test_encode_blocks_one_pass_matches_per_block_reference():
    """The r3 one-pass vectorized encode_blocks must be BYTE-identical to
    the straightforward per-block implementation (the resume/byte-identity
    contract of the build depends on it)."""
    import numpy as np

    from pears_fruit_fly_spark.operators.codec import (
        bm25_impact,
        delta_encode,
        encode_blocks,
        varbyte_encode,
    )

    def reference(doc_ids, tfs, dls, avgdl, k1, b, block_size):
        blocks = []
        n = doc_ids.size
        for s in range(0, n, block_size):
            e = min(s + block_size, n)
            ids, t, d = doc_ids[s:e], tfs[s:e], dls[s:e]
            first, gaps = delta_encode(ids)
            impacts = bm25_impact(t, d, avgdl, k1, b)
            blocks.append({
                "block_id": s // block_size, "n": int(e - s),
                "first_doc": int(first), "last_doc": int(ids[-1]),
                "doc_gaps": varbyte_encode(gaps),
                "tfs": varbyte_encode(np.asarray(t, dtype=np.uint64) - 1),
                "dls": varbyte_encode(np.asarray(d, dtype=np.uint64)),
                "positions": None,
                "max_tf": int(t.max()), "max_impact": float(impacts.max()),
            })
        return blocks

    rng = np.random.default_rng(17)
    for trial, (n, bs) in enumerate([(1, 4), (5, 4), (128, 128), (129, 128),
                                     (1000, 128), (777, 64), (4096, 128)]):
        ids = np.cumsum(rng.integers(1, 2 ** (7 * (trial % 3) + 3), size=n)
                        ).astype(np.int64)
        tfs = rng.integers(1, 300, size=n).astype(np.int64)
        dls = rng.integers(1, 100000, size=n).astype(np.int64)
        got = encode_blocks(ids, tfs, dls, 137.5, 1.2, 0.75, bs)
        want = reference(ids, tfs, dls, 137.5, 1.2, 0.75, bs)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g == w, (trial, g["block_id"])
    # empty input still a valid (empty) encoding
    z = np.zeros(0, dtype=np.int64)
    assert encode_blocks(z, z, z, 1.0, 1.2, 0.75, 128) == []


def test_decode_blocks_batch_matches_per_block():
    import numpy as np

    from pears_fruit_fly_spark.operators.codec import (
        decode_block,
        decode_blocks_batch,
        encode_blocks,
    )

    rng = np.random.default_rng(4)
    rows = []
    for _ in range(30):
        n = int(rng.integers(1, 400))
        ids = np.cumsum(rng.integers(1, 1000, size=n)).astype(np.int64)
        tfs = rng.integers(1, 50, size=n).astype(np.int64)
        dls = rng.integers(1, 5000, size=n).astype(np.int64)
        for blk in encode_blocks(ids, tfs, dls, 80.0, 1.2, 0.75, 128):
            blk["term_id"] = len(rows) % 7
            rows.append(blk)
    ids_b, tfs_b, dls_b, rix = decode_blocks_batch(
        [r["n"] for r in rows], [r["first_doc"] for r in rows],
        [r["doc_gaps"] for r in rows], [r["tfs"] for r in rows],
        [r["dls"] for r in rows],
    )
    off = 0
    for bi, r in enumerate(rows):
        want_ids, want_tfs, want_dls = decode_block(r)
        n = r["n"]
        assert (rix[off:off + n] == bi).all()
        assert (ids_b[off:off + n] == want_ids).all()
        assert (tfs_b[off:off + n] == want_tfs).all()
        assert (dls_b[off:off + n] == want_dls).all()
        off += n
    assert off == ids_b.size


def _per_block_reference(term, salt, doc_ids, tfs, dls, pos_runs, avgdl, k1,
                         b, block_size):
    """One (term, salt) run, block by block, from the scalar primitives."""
    blocks = []
    n = doc_ids.size
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        ids, t, d = doc_ids[s:e], tfs[s:e], dls[s:e]
        first, gaps = delta_encode(ids)
        blocks.append({
            "term_id": term, "salt": salt,
            "block_id": s // block_size, "n": int(e - s),
            "first_doc": int(first), "last_doc": int(ids[-1]),
            "doc_gaps": varbyte_encode(gaps),
            "tfs": varbyte_encode(np.asarray(t, dtype=np.uint64) - 1),
            "dls": varbyte_encode(np.asarray(d, dtype=np.uint64)),
            "positions": (b"".join(pos_runs[s:e])
                          if pos_runs is not None else None),
            "max_tf": int(t.max()),
            "max_impact": float(bm25_impact(t, d, avgdl, k1, b).max()),
        })
    return blocks


def _rows(cols):
    arrays = (v.tolist() if isinstance(v, np.ndarray) else v
              for v in cols.values())
    return [dict(zip(cols, row)) for row in zip(*arrays)]


def test_encode_runs_matches_per_run_reference():
    """encode_runs over a whole bucket is byte-identical to encoding each
    (term, salt) run block by block: run lengths 1, block_size and
    block_size +- 1, salted runs of one term, doc ids near 2^63 - 1 that
    drop at run boundaries, tf-only and positional postings."""
    from pears_fruit_fly_spark.operators.codec import (
        encode_position_runs_concat,
        encode_runs,
    )

    rng = np.random.default_rng(23)
    big = 2**63 - 1
    for trial, bs in enumerate([1, 2, 4, 128, 4, 128]):
        positional = trial % 2 == 1
        lengths = [1, bs, bs + 1, max(1, bs - 1), 2 * bs + 1, 1, 300]
        cols = {c: [] for c in ("term", "salt", "doc", "tf", "dl")}
        streams, widths, want = [], [], []
        for r, n in enumerate(lengths):
            term, salt = r // 3, r % 3  # up to 3 salts per term
            if r % 2:  # ids just below 2^63 - 1
                ids = np.sort(rng.choice(10**6, size=n, replace=False))
                ids = (big - 10**6 + ids).astype(np.int64)
            else:
                ids = np.sort(rng.choice(5000, size=n, replace=False))
            ids = ids.astype(np.int64)
            tf = rng.integers(1, 9, size=n)
            dl = rng.integers(1, 2**40, size=n)
            runs = None
            if positional:
                flat = np.concatenate([
                    np.sort(rng.choice(2**20, size=t, replace=False))
                    for t in tf
                ])
                stream, lens = encode_position_runs_concat(flat, tf)
                off = np.concatenate([[0], np.cumsum(lens)])
                runs = [stream[off[i]:off[i + 1]] for i in range(n)]
                streams.append(np.frombuffer(stream, dtype=np.uint8))
                widths.append(lens)
            for c, v in zip(cols, (np.full(n, term), np.full(n, salt), ids,
                                   tf, dl)):
                cols[c].append(v)
            want += _per_block_reference(term, salt, ids, tf, dl, runs,
                                         91.5, 1.2, 0.75, bs)
        cat = {c: np.concatenate(v) for c, v in cols.items()}
        got = _rows(encode_runs(
            cat["term"], cat["salt"], cat["doc"], cat["tf"], cat["dl"],
            91.5, 1.2, 0.75, bs,
            np.concatenate(streams) if positional else None,
            np.concatenate(widths) if positional else None,
        ))
        assert got == want, trial


def test_encode_runs_edge_inputs():
    import pytest

    from pears_fruit_fly_spark.operators.codec import encode_runs

    z = np.zeros(0, dtype=np.int64)
    empty = encode_runs(z, z, z, z, z, 10.0, 1.2, 0.75, 128)
    assert all(len(v) == 0 for v in empty.values())
    empty_pos = encode_runs(z, z, z, z, z, 10.0, 1.2, 0.75, 128,
                            np.zeros(0, dtype=np.uint8), z)
    assert all(len(v) == 0 for v in empty_pos.values())
    one = np.ones(4, dtype=np.int64)
    # a repeated doc id inside one run raises, also across a block edge
    for bs in (128, 2):
        with pytest.raises(ValueError, match="strictly increasing"):
            encode_runs(np.zeros(4), np.zeros(4), np.array([1, 5, 5, 9]),
                        one, one, 10.0, 1.2, 0.75, bs)
    # ids that drop (or repeat) where a new (term, salt) run starts are fine
    cols = encode_runs(np.array([0, 0, 0, 1]), np.array([0, 0, 1, 1]),
                       np.array([3, 7, 7, 2]), one, one, 10.0, 1.2, 0.75, 128)
    assert cols["first_doc"].tolist() == [3, 7, 2]
    assert cols["n"].tolist() == [2, 1, 1]
