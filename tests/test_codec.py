import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.index.codec import (
    decode_postings,
    decode_varints,
    encode_postings,
    encode_varints,
)


def test_varint_known_values():
    assert encode_varints(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varints(np.array([1], dtype=np.uint64)) == b"\x01"
    assert encode_varints(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varints(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert encode_varints(np.array([300], dtype=np.uint64)) == b"\xac\x02"


def test_varint_empty():
    assert encode_varints(np.empty(0, dtype=np.uint64)) == b""
    assert decode_varints(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    out = decode_varints(encode_varints(arr))
    assert out.tolist() == values


@given(
    st.lists(
        st.tuples(st.integers(0, 10**12), st.integers(1, 10_000), st.integers(1, 500)),
        min_size=0,
        max_size=300,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(triples):
    triples.sort()
    doc_ids = np.array([p[0] for p in triples], dtype=np.int64)
    tfs = np.array([p[1] for p in triples], dtype=np.int64)
    dls = np.array([p[2] for p in triples], dtype=np.int64)
    d2, t2, l2 = decode_postings(encode_postings(doc_ids, tfs, dls))
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


def test_postings_compression_actually_compresses():
    # dense doc ids -> small gaps -> ~1 byte each for gap/tf/dl
    doc_ids = np.arange(0, 100_000, 3, dtype=np.int64)
    tfs = np.ones(doc_ids.size, dtype=np.int64)
    dls = np.full(doc_ids.size, 100, dtype=np.int64)
    buf = encode_postings(doc_ids, tfs, dls)
    assert len(buf) < doc_ids.size * 3 + 10
    d2, t2, l2 = decode_postings(buf)
    np.testing.assert_array_equal(d2, doc_ids)
    np.testing.assert_array_equal(t2, tfs)
    np.testing.assert_array_equal(l2, dls)


def test_decode_rejects_garbage_gracefully():
    with pytest.raises(Exception):
        # truncated stream: continuation bit set on final byte
        decode_varints(b"\x80")


# --------------------------------------------------------------- positions

from search_engine_spark.index.codec import (  # noqa: E402
    decode_position_lists,
    encode_position_lists,
)


@given(
    st.lists(
        st.lists(st.integers(0, 100_000), min_size=1, max_size=40, unique=True),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=100, deadline=None)
def test_position_lists_roundtrip(doc_lists):
    doc_lists = [sorted(d) for d in doc_lists]
    counts = np.array([len(d) for d in doc_lists], dtype=np.int64)
    flat = (
        np.array([p for d in doc_lists for p in d], dtype=np.int64)
        if doc_lists
        else np.empty(0, dtype=np.int64)
    )
    buf = encode_position_lists(flat, counts)
    out = decode_position_lists(buf, counts)
    assert out.tolist() == flat.tolist()


def test_position_lists_empty_and_mismatch():
    assert encode_position_lists(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)) == b""
    assert decode_position_lists(b"", np.empty(0, dtype=np.int64)).size == 0
    buf = encode_position_lists(np.array([3, 5]), np.array([2]))
    with pytest.raises(ValueError):
        decode_position_lists(buf, np.array([3]))


def test_position_lists_deltas_restart_per_doc():
    # two docs with identical small positions: the second doc's first
    # position must encode absolute (1 varint byte), not relative to the
    # previous doc's last position (which would go negative)
    flat = np.array([2, 7, 2, 7], dtype=np.int64)
    counts = np.array([2, 2], dtype=np.int64)
    buf = encode_position_lists(flat, counts)
    assert buf == bytes([2, 5, 2, 5])
    assert decode_position_lists(buf, counts).tolist() == [2, 7, 2, 7]


def test_slab_encoder_matches_per_block_codec():
    """The build's slab kernel (``encode_sorted_arrays``, every block's
    blob cut from one varint stream) writes, block for block, what the
    per-block codec writes: ``encode_postings`` of the block's doc ids, tfs
    and dls, and ``encode_position_lists`` of its positions."""
    from search_engine_spark.index.builder import encode_sorted_arrays
    from search_engine_spark.index.codec import encode_position_lists

    rng = np.random.default_rng(13)
    for trial in range(24):
        n = int(rng.integers(1, 3000))
        codes = np.sort(rng.integers(0, int(rng.integers(1, 40)), n))
        doc = np.concatenate([
            np.sort(rng.choice(10 ** int(rng.integers(4, 12)), int((codes == t).sum()),
                               replace=False))
            for t in np.unique(codes)]).astype(np.int64)
        tf = rng.integers(1, (2, 300, 1 << 20)[trial % 3], n)
        dl = tf + rng.integers(0, 5000, n)
        sseg = doc // int(rng.integers(1, 10 ** 6))
        order = np.lexsort((doc, sseg, codes))
        codes, doc, tf, dl, sseg = codes[order], doc[order], tf[order], dl[order], sseg[order]
        lens = np.minimum(tf, 20)
        pos_offsets = np.concatenate(([0], np.cumsum(lens)))
        pos_flat = np.concatenate([np.sort(rng.choice(10 ** 6, k, replace=False)) for k in lens])
        cols = encode_sorted_arrays(
            codes, np.array([f"t{i}" for i in range(codes.max() + 1)], dtype=object), sseg,
            doc, tf, dl, None, 100.0, int(rng.integers(1, 200)), pos_flat, pos_offsets)
        lo = 0
        for b, (blob, pos) in enumerate(zip(cols["postings"].to_pylist(),
                                            cols["positions"].to_pylist())):
            hi = lo + int(cols["doc_count"][b])
            assert doc[lo] == cols["first_doc"][b] and doc[hi - 1] == cols["last_doc"][b]
            assert blob == encode_postings(doc[lo:hi], tf[lo:hi], dl[lo:hi]), (trial, b)
            assert len(blob) == cols["nbytes"][b]
            assert pos == encode_position_lists(
                pos_flat[pos_offsets[lo]:pos_offsets[hi]], lens[lo:hi]), (trial, b)
            lo = hi
        assert lo == n
