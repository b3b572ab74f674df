"""Vectorized delta + varint (LEB128) posting-list codec.

Postings for one (term, block) are stored as a single ``binary`` value:
``varint(doc_gaps) bytes || varint(tfs) bytes`` with the gap-section length
prefixed, where ``doc_gaps[0] = doc_ids[0]`` and ``doc_gaps[i] =
doc_ids[i] - doc_ids[i-1]`` over doc_ids sorted ascending.  This mirrors the
published Lucene postings layout (delta + vint) that backed the reference's
Atlas Search index, re-implemented in pure numpy so encode/decode run
vectorized inside Arrow UDFs — no per-row Python.

All loops below are bounded by the max varint width (10 bytes for uint64),
not by the number of postings.
"""

from __future__ import annotations

import numpy as np

_U64_7 = np.uint64(7)
_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array. Vectorized over values."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: 1 + floor(bits/7) for bits >= 7
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> _U64_7
    while tmp.any():
        nb += tmp > 0
        tmp >>= _U64_7
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    pos = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nb[:-1], out=pos[1:])
    cur = v.copy()
    for k in range(int(nb.max())):
        mask = nb > k
        idx = pos[mask] + k
        chunk = cur[mask]
        byte = (chunk & _MASK7).astype(np.uint8)
        more = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | more
        cur[mask] = chunk >> _U64_7
    return out.tobytes()


def decode_varints(buf: bytes | memoryview) -> np.ndarray:
    """Decode a LEB128 byte stream to uint64. Fully vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & _CONT) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # significance of each byte = its offset within its value
    offsets = np.arange(b.size, dtype=np.uint64)
    offsets -= np.repeat(starts.astype(np.uint64), (ends - starts + 1))
    contrib = (b & 0x7F).astype(np.uint64) << (offsets * _U64_7)
    return np.add.reduceat(contrib, starts)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """Encode one posting block: sorted doc_ids (delta), tfs, doc lengths.

    Doc lengths ride inline with the postings (one small varint each) so BM25
    scoring needs **no join against a doc-stats table** at query time — at
    cluster scale that join would shuffle every candidate posting.  Layout:
    ``varint(len(gaps_bytes)) || varint(len(tf_bytes)) || gaps || tfs || dls``.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    gaps = np.empty_like(doc_ids)
    if doc_ids.size:
        gaps[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    gap_bytes = encode_varints(gaps)
    tf_bytes = encode_varints(np.ascontiguousarray(tfs, dtype=np.int64))
    dl_bytes = encode_varints(np.ascontiguousarray(dls, dtype=np.int64))
    header = encode_varints(np.array([len(gap_bytes), len(tf_bytes)], dtype=np.uint64))
    return header + gap_bytes + tf_bytes + dl_bytes


def _sections(b: memoryview) -> tuple[int, int, int]:
    """(offset of the gap section, gap bytes, tf bytes) of a posting block:
    its header is two varints."""
    hb = np.frombuffer(b[:20], dtype=np.uint8)
    p = int(np.flatnonzero((hb & _CONT) == 0)[1]) + 1
    gap_len, tf_len = (int(v) for v in decode_varints(b[:p]))
    return p, gap_len, tf_len


def decode_postings(buf: bytes | memoryview) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_postings` -> (doc_ids, tfs, dls), all int64."""
    b = memoryview(buf)
    if len(b) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    p, gap_len, tf_len = _sections(b)
    gaps = decode_varints(b[p : p + gap_len]).astype(np.int64)
    tfs = decode_varints(b[p + gap_len : p + gap_len + tf_len]).astype(np.int64)
    dls = decode_varints(b[p + gap_len + tf_len :]).astype(np.int64)
    return np.cumsum(gaps), tfs, dls


def decode_doc_ids(buf: bytes | memoryview) -> np.ndarray:
    """The doc_ids of :func:`decode_postings` alone: the tf and dl sections
    are never read (a block that only needs counting, not scoring)."""
    b = memoryview(buf)
    if len(b) == 0:
        return np.empty(0, dtype=np.int64)
    p, gap_len, _ = _sections(b)
    return np.cumsum(decode_varints(b[p : p + gap_len]).astype(np.int64))


# ---------------------------------------------------------------------------
# Positions (the Lucene .pos analog). A positional index stores, per posting
# block, the token offsets of every occurrence — kept in a SEPARATE segment
# column from the postings blob so queries that never touch positions never
# read the bytes (parquet column pruning; Lucene splits .doc/.pos the same
# way). Layout: one varint stream of position deltas, the delta sequence
# restarting (absolute value) at each doc boundary; the per-doc occurrence
# counts are the tfs already in the postings blob, so no extra framing.
# ---------------------------------------------------------------------------

def encode_position_lists(positions: np.ndarray, counts: np.ndarray) -> bytes:
    """Flat ascending-within-doc ``positions`` + per-doc ``counts`` -> bytes.

    ``positions`` concatenates each doc's sorted occurrence offsets;
    ``counts[i]`` is doc i's occurrence count (== its tf). Vectorized:
    one subtract for deltas, one scatter for the per-doc restarts.
    """
    pos = np.ascontiguousarray(positions, dtype=np.int64)
    cnt = np.ascontiguousarray(counts, dtype=np.int64)
    if pos.size == 0:
        return b""
    starts = np.zeros(cnt.size, dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    starts = starts[cnt > 0]
    deltas = np.empty_like(pos)
    deltas[1:] = pos[1:] - pos[:-1]
    deltas[starts] = pos[starts]
    return encode_varints(deltas)


def decode_position_lists(buf: bytes | memoryview, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_position_lists` -> flat absolute positions.

    ``counts`` must be the same per-doc occurrence counts used at encode
    (the block's tfs). Segmented inverse-cumsum: one global cumsum, then
    subtract each run's preceding total.
    """
    cnt = np.ascontiguousarray(counts, dtype=np.int64)
    deltas = decode_varints(buf).astype(np.int64)
    if deltas.size != int(cnt.sum()):
        raise ValueError(
            f"positions stream has {deltas.size} values, tfs sum to {int(cnt.sum())}"
        )
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    c = np.cumsum(deltas)
    nz = cnt > 0
    starts = np.zeros(cnt.size, dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    base = np.where(starts == 0, 0, c[starts - 1])
    return c - np.repeat(base[nz], cnt[nz])
