"""Posting-list compression: delta + variable-byte, block-max metadata.

Not present in the reference (its index is a pickled hash matrix,
fruit_fly/hash.py:275-284); mandated by BASELINE.json north_rule. Pure NumPy,
fully vectorized in both directions — this code runs inside the hot
applyInPandas/mapInPandas stages of the build and query paths, so per-element
Python loops are not acceptable.

Layout per posting block (<= block_size docs of one term):

    doc ids:  delta-encoded (gap from previous id, first gap from first_doc),
              each gap varbyte-encoded (7 data bits/byte, MSB = continuation)
    tfs:      varbyte (tf >= 1 stored as tf-1)
    dls:      varbyte document lengths — kept posting-local so BM25 scoring
              needs no join at query time (explicit scale trade-off: +1-2
              bytes/posting buys a zero-shuffle scoring stage)
    positions (optional, store_positions builds): per posting, its tf token
              positions — first absolute, then gap-1 — varbyte, concatenated
              in doc order (the Lucene .pos analog). The stream is self-
              delimiting: posting boundaries = cumulative tf value counts,
              so no extra offsets are stored.
    metadata: n, first_doc, last_doc, max_tf, max_impact (block-max for WAND)

A block starts at each (term, salt) run start and after every block_size
postings inside a run. encode_runs encodes every run of a bucket in one
pass; it is the only encoder of the build, append and merge paths
(encode_blocks is its one-run wrapper).
"""

from __future__ import annotations

import numpy as np

_MAX_VARBYTE_WIDTH = 10  # enough for uint64


def _varbyte_encode_arr(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Core vectorized varbyte encode: uint64 array → (byte stream as uint8
    array, per-value byte widths). Value-local encoding, so a concatenated
    stream sliced at cumulative widths is byte-identical to encoding each
    slice separately (encode_blocks exploits this for one-pass block
    encoding)."""
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # byte length per value: ceil(bitlen/7), min 1 — computed as
    # 1 + #{k : v >= 2^(7k)}: at most 9 vectorized compares with early
    # exit on the array max (r6; the old per-bit shift loop walked up to
    # 64 passes over the array and dominated the position-stream encode)
    nbytes = np.ones(v.shape, dtype=np.int64)
    vmax = int(v.max())
    for k in range(1, _MAX_VARBYTE_WIDTH):
        threshold = np.uint64(1) << np.uint64(7 * k)
        if vmax < int(threshold):
            break
        nbytes += v >= threshold
    offsets = np.concatenate([[0], np.cumsum(nbytes)])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    # fill byte position j of every value that has > j bytes
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        idx = offsets[:-1][mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > j
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int64/uint64 array.

    MSB set = more bytes follow; little-endian 7-bit groups.
    """
    out, _ = _varbyte_encode_arr(np.asarray(values, dtype=np.uint64))
    return out.tobytes()


def varbyte_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)  # index of terminal byte per value
    starts = np.concatenate([[0], ends[:-1] + 1])
    values = np.zeros(ends.size, dtype=np.uint64)
    widths = ends - starts + 1
    for j in range(int(widths.max())):
        mask = widths > j
        byte = b[starts[mask] + j].astype(np.uint64) & np.uint64(0x7F)
        values[mask] |= byte << np.uint64(7 * j)
    if n is not None and values.size != n:
        raise ValueError(f"decoded {values.size} values, expected {n}")
    return values


def delta_encode(sorted_ids: np.ndarray) -> tuple[int, np.ndarray]:
    """Strictly-increasing ids → (first_id, gaps) with gaps >= 1 stored as
    gap-1 for tighter varbytes; first gap is vs first_id itself (stored 0)."""
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    gaps = np.diff(ids, prepend=ids[:1])  # first element → 0
    if ids.size > 1 and (gaps[1:] == 0).any():
        raise ValueError("doc ids must be strictly increasing within a posting list")
    out = gaps.copy()
    out[1:] -= 1  # store gap-1 (gaps are >= 1 after the first)
    return int(ids[0]), out


def delta_decode(first_id: int, stored: np.ndarray) -> np.ndarray:
    gaps = np.asarray(stored, dtype=np.uint64).copy()
    if gaps.size == 0:
        return gaps
    gaps[0] = np.uint64(first_id)
    gaps[1:] += 1
    return np.cumsum(gaps, dtype=np.uint64)


def bm25_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """Term-frequency normalization component of BM25 (idf-free):
    tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)). Score = idf * impact."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_position_runs_concat(
    flat: np.ndarray, counts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """(concatenated positions, per-run counts) → (ONE concatenated varbyte
    stream, per-run byte lengths), fully vectorized — no per-run Python
    objects. Varbyte values are value-local, so slicing the stream at
    cumulative lengths is byte-identical to encoding each run separately."""
    flat = np.asarray(flat, dtype=np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    stored = np.diff(flat, prepend=flat[:1])
    nonstart = np.ones(flat.size, dtype=bool)
    nonstart[starts[counts > 0]] = False
    if (stored[nonstart] == 0).any():
        raise ValueError("positions must be strictly increasing per posting")
    stored[nonstart] -= 1
    stored[~nonstart] = flat[~nonstart]  # run starts: absolute position
    stream, widths = _varbyte_encode_arr(stored)
    b_off = np.concatenate([[0], np.cumsum(widths)])
    bounds = np.concatenate([[0], np.cumsum(counts)])
    run_bytes = b_off[bounds[1:]] - b_off[bounds[:-1]]
    return stream.tobytes(), run_bytes.astype(np.int64)


def gather_byte_runs(
    stream: np.ndarray, lens: np.ndarray, order: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Reorder variable-length byte runs of a flat uint8 stream into
    ``order`` with ONE vectorized gather (no per-run slicing): returns
    (reordered stream, lens[order]). Used wherever position payloads are
    re-sorted (bucket pack, encode lexsort, shard keep-masks)."""
    lens = np.asarray(lens, dtype=np.int64)
    src_off = np.concatenate([[0], np.cumsum(lens)[:-1]])
    new_lens = lens[order]
    total = int(new_lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint8), new_lens
    dst_off = np.concatenate([[0], np.cumsum(new_lens)[:-1]])
    idx = (
        np.repeat(src_off[order] - dst_off, new_lens)
        + np.arange(total, dtype=np.int64)
    )
    return stream[idx], new_lens


def position_widths(stream: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Per-posting byte widths of a concatenated position stream, found
    WITHOUT decoding values: varbyte terminator bytes (MSB=0) mark value
    ends, and posting i holds exactly tfs[i] values. This is what lets
    merge carry positions through decode -> re-encode untouched."""
    t = np.asarray(tfs, dtype=np.int64)
    b = np.asarray(stream, dtype=np.uint8)
    ends = np.flatnonzero((b & 0x80) == 0)  # terminal byte of each value
    total = int(t.sum())
    if ends.size != total:
        raise ValueError(
            f"position stream holds {ends.size} values, expected {total}"
        )
    if total == 0:
        return np.zeros(t.size, dtype=np.int64)
    cum = np.cumsum(t)
    hi = np.where(cum > 0, ends[np.maximum(cum - 1, 0)] + 1, 0)
    return np.diff(hi, prepend=0)


def slice_position_stream(buf: bytes, tfs: np.ndarray) -> list[bytes]:
    """position_widths, as per-posting byte slices of ``buf``."""
    widths = position_widths(np.frombuffer(buf, dtype=np.uint8), tfs)
    off = np.concatenate([[0], np.cumsum(widths)]).tolist()
    return [buf[a:b] for a, b in zip(off[:-1], off[1:])]


def decode_positions(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated position stream of a block → (flat absolute positions,
    per-posting start offsets into it). One varbyte decode + the cumsum/base
    trick of decode_blocks_batch (run starts absolute, then gap-1)."""
    t = np.asarray(tfs, dtype=np.int64)
    total = int(t.sum())
    vals = varbyte_decode(buf, total).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(t)[:-1]])
    adj = vals.copy()
    nonstart = np.ones(total, dtype=bool)
    nonstart[starts[t > 0]] = False
    adj[nonstart] += 1
    run = np.cumsum(adj)
    rs = starts[t > 0]
    base = np.zeros(t.size, dtype=np.int64)
    base[t > 0] = vals[rs] - run[rs]
    row_idx = np.repeat(np.arange(t.size, dtype=np.int64), t)
    return run + base[row_idx], starts


def _slices(stream: np.ndarray, widths: np.ndarray, starts: np.ndarray,
            ends: np.ndarray) -> list[bytes]:
    """Block byte slices of a per-value varbyte stream: block i holds the
    values starts[i]:ends[i]."""
    off = np.concatenate([[0], np.cumsum(widths)])
    buf = stream.tobytes()
    return [buf[a:b] for a, b in zip(off[starts].tolist(), off[ends].tolist())]


def encode_runs(
    term: np.ndarray,
    salt: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
    pos_stream: np.ndarray | None = None,
    pos_lens: np.ndarray | None = None,
) -> dict[str, np.ndarray | list]:
    """Every (term, salt) run of a bucket, sorted by (term, salt, doc) ->
    POSTINGS columns (schema in module doc), in one vectorized pass.

    Doc gaps reset at block starts (the first gap of a block is stored 0,
    its first doc travels as first_doc); each varbyte stream is encoded
    once and sliced at block offsets (value-local encoding makes a slice
    byte-identical to encoding that block alone); max_tf and max_impact
    come from one maximum.reduceat. max_impact is the block-max WAND
    bound: the block's max idf-free impact.

    pos_stream/pos_lens: the per-posting varbyte position runs as ONE
    flat uint8 stream plus per-posting byte widths, in posting order;
    positions is None per block when absent.
    """
    doc = np.asarray(doc, dtype=np.int64)
    n = doc.size
    term = np.asarray(term, dtype=np.int64)
    salt = np.asarray(salt, dtype=np.int64)
    ids = doc.view(np.uint64)
    run_start = np.ones(n, dtype=bool)
    run_start[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    if (ids[1:] <= ids[:-1])[~run_start[1:]].any():
        raise ValueError("doc ids must be strictly increasing within a posting list")
    run_starts = np.flatnonzero(run_start)
    rank = np.arange(n, dtype=np.int64) - np.repeat(
        run_starts, np.diff(np.append(run_starts, n))
    )
    starts = np.flatnonzero(rank % block_size == 0)
    ends = np.append(starts[1:], n) if n else starts

    t64 = np.asarray(tf, dtype=np.uint64)
    d64 = np.asarray(dl, dtype=np.uint64)
    stored = np.diff(ids, prepend=ids[:1])
    stored[1:] -= np.uint64(1)  # gaps >= 1 stored as gap-1
    stored[starts] = 0          # a block's first gap is vs first_doc
    gap_stream, gap_nb = _varbyte_encode_arr(stored)
    tf_stream, tf_nb = _varbyte_encode_arr(t64 - np.uint64(1))
    dl_stream, dl_nb = _varbyte_encode_arr(d64)
    if n:
        max_tf = np.maximum.reduceat(t64, starts)
        max_imp = np.maximum.reduceat(bm25_impact(t64, d64, avgdl, k1, b),
                                      starts)
    else:
        max_tf, max_imp = np.zeros(0, np.uint64), np.zeros(0, np.float64)
    if pos_stream is None:
        positions = [None] * starts.size
    else:
        positions = _slices(np.asarray(pos_stream, dtype=np.uint8),
                            np.asarray(pos_lens, dtype=np.int64),
                            starts, ends)
    return {
        "term_id": term[starts].astype(np.int32),
        "salt": salt[starts].astype(np.int32),
        "block_id": (rank[starts] // block_size).astype(np.int32),
        "n": (ends - starts).astype(np.int32),
        "first_doc": doc[starts],
        "last_doc": doc[ends - 1],
        "doc_gaps": _slices(gap_stream, gap_nb, starts, ends),
        "tfs": _slices(tf_stream, tf_nb, starts, ends),
        "dls": _slices(dl_stream, dl_nb, starts, ends),
        "positions": positions,
        "max_tf": max_tf.astype(np.int32),
        "max_impact": max_imp.astype(np.float64),
    }


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int = 128,
    pos_stream: np.ndarray | None = None,
    pos_lens: np.ndarray | None = None,
) -> list[dict]:
    """One term's sorted postings -> list of block dicts: encode_runs over
    a single run, without the term_id/salt keys."""
    z = np.zeros(len(doc_ids), dtype=np.int64)
    cols = encode_runs(z, z, doc_ids, tfs, dls, avgdl, k1, b, block_size,
                       pos_stream, pos_lens)
    del cols["term_id"], cols["salt"]
    return [dict(zip(cols, row))
            for row in zip(*(v.tolist() if isinstance(v, np.ndarray) else v
                             for v in cols.values()))]


def decode_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Block row (dict-like / pandas row) → (doc_ids, tfs, dls)."""
    n = int(block["n"])
    ids = delta_decode(int(block["first_doc"]), varbyte_decode(bytes(block["doc_gaps"]), n))
    tfs = varbyte_decode(bytes(block["tfs"]), n) + np.uint64(1)
    dls = varbyte_decode(bytes(block["dls"]), n)
    return ids.astype(np.int64), tfs.astype(np.int64), dls.astype(np.int64)


def decode_blocks_batch(
    ns, first_docs, gap_bufs, tf_bufs, dl_bufs
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """MANY blocks → (doc_ids, tfs, dls, block_row_idx), one vectorized pass
    (r3 — the per-row decode_block loop dominated the batch-scoring and
    merge read paths).

    Varbyte values are self-delimiting, so the per-block buffers concatenate
    into one stream decoded in a single call; delta decoding with per-block
    resets runs as one global cumsum plus a per-block base correction
    (base_i = first_doc_i - running_sum_at_block_start, expanded by repeat).
    block_row_idx maps every posting back to its input block row.
    """
    n_arr = np.asarray(ns, dtype=np.int64)
    n_blocks = n_arr.size
    if n_blocks == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    total = int(n_arr.sum())
    first = np.asarray(first_docs, dtype=np.int64)
    gaps = varbyte_decode(b"".join(bytes(x) for x in gap_bufs), total)
    tfs = varbyte_decode(b"".join(bytes(x) for x in tf_bufs), total) + np.uint64(1)
    dls = varbyte_decode(b"".join(bytes(x) for x in dl_bufs), total)
    starts = np.concatenate([[0], np.cumsum(n_arr)[:-1]])
    adj = gaps.astype(np.int64)
    nonstart = np.ones(total, dtype=bool)
    nonstart[starts] = False
    adj[nonstart] += 1  # stored gap-1 -> gap (block-start slots stay 0)
    run = np.cumsum(adj)
    base = first - run[starts]
    row_idx = np.repeat(np.arange(n_blocks, dtype=np.int64), n_arr)
    ids = run + base[row_idx]
    return ids, tfs.astype(np.int64), dls.astype(np.int64), row_idx
