"""Codec unit + property tests (pure numpy, no Spark).

Layout contract: hw3/Lexicon.cpp:4-21 (varbyte), 103-112 (delta reset per
64-posting chunk), 145-165 (<=64KB greedy block packing).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparksearch.codec import (
    CHUNK_META_BYTES,
    FORMAT,
    EncodedBlock,
    check_format,
    chunk_offsets,
    decode_block,
    encode_postings,
    tf_norm,
    varbyte_decode,
    varbyte_encode,
)
from sparksearch.constants import BLOCK_HEADER_BYTES, BLOCK_SIZE_BYTES, POSTINGS_PER_CHUNK


def test_varbyte_known_values():
    # LSB-first, 0x80 = continuation (hw3/Lexicon.cpp:4-21)
    cases = {
        1: b"\x01",
        127: b"\x7f",
        128: b"\x80\x01",
        16383: b"\xff\x7f",
        16384: b"\x80\x80\x01",
        0: b"\x00",  # documented fix of the reference's zero-byte bug
    }
    for val, want in cases.items():
        buf, nb = varbyte_encode(np.array([val]))
        assert buf == want, val
        assert nb[0] == len(want)
        assert varbyte_decode(buf).tolist() == [val]


def test_varbyte_stream():
    vals = np.array([0, 1, 127, 128, 300, 2**21, 2**32 - 1, 5])
    buf, nb = varbyte_encode(vals)
    assert varbyte_decode(buf).tolist() == vals.tolist()
    assert int(nb.sum()) == len(buf)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf, _ = varbyte_encode(arr)
    assert varbyte_decode(buf).tolist() == vals


def _roundtrip(doc_ids, tfs, dls, avg_dl=100.0):
    blocks = encode_postings(
        np.array(doc_ids, np.int64), np.array(tfs, np.int64), np.array(dls, np.int64), avg_dl
    )
    out_d, out_t, out_l = [], [], []
    for b in blocks:
        d, t, l = decode_block(b.payload, b.docid_sizes, b.tf_sizes, b.dl_sizes)
        out_d += d.tolist()
        out_t += t.tolist()
        out_l += l.tolist()
    return blocks, out_d, out_t, out_l


@pytest.mark.parametrize("n", [1, 63, 64, 65, 128, 129, 1000])
def test_chunk_boundaries(n):
    doc_ids = list(range(0, 3 * n, 3))  # starts at docID 0: zero-encode edge
    tfs = [(i % 7) + 1 for i in range(n)]
    dls = [50 + i for i in range(n)]
    blocks, d, t, l = _roundtrip(doc_ids, tfs, dls)
    assert d == doc_ids and t == tfs and l == dls
    n_chunks = sum(len(b.last_doc_ids) for b in blocks)
    assert n_chunks == -(-n // POSTINGS_PER_CHUNK)
    # per-chunk last_docID metadata
    lasts = [x for b in blocks for x in b.last_doc_ids.tolist()]
    want = [doc_ids[min((i + 1) * POSTINGS_PER_CHUNK, n) - 1] for i in range(n_chunks)]
    assert lasts == want


def test_delta_reset_per_chunk():
    # chunk 2 must start from an absolute docID and an absolute doc length,
    # not a running delta; lengths drop across the boundary and inside chunk 2
    c = POSTINGS_PER_CHUNK
    doc_ids = list(range(1000, 1000 + c + 5))
    dls = [500 + i for i in range(c)] + [7, 7, 9, 8, 300]
    blocks, d, _, l = _roundtrip(doc_ids, [1] * (c + 5), dls)
    assert d == doc_ids and l == dls
    # the second chunk's bytes, sliced out of the payload, decode alone
    (b,) = blocks
    start, _, _, l_end = chunk_offsets(b.docid_sizes, b.tf_sizes, b.dl_sizes)
    d2, _, l2 = decode_block(
        b.payload[start[1] : l_end[1]], b.docid_sizes[1:], b.tf_sizes[1:], b.dl_sizes[1:]
    )
    assert d2.tolist() == doc_ids[c:]
    assert l2.tolist() == dls[c:]


@pytest.mark.parametrize("dl", [0, 63, 64, 500, 2**20])
def test_equal_lengths_cost_one_byte_after_the_first(dl):
    # per chunk: the first length absolute (zigzag varbyte), then a 0 delta
    # (1 byte) per later posting
    n = 2 * POSTINGS_PER_CHUNK + 3
    (b,) = encode_postings(np.arange(n), np.ones(n, np.int64), np.full(n, dl), 100.0)
    first = len(varbyte_encode(np.array([2 * dl]))[0])
    sizes = [POSTINGS_PER_CHUNK, POSTINGS_PER_CHUNK, 3]
    assert b.dl_sizes.tolist() == [first + k - 1 for k in sizes]


def test_check_format_refuses_other_layouts():
    check_format(FORMAT, "idx")
    # nothing recorded = written before the version was kept (raw lengths)
    for found in (None, 1, FORMAT + 1):
        with pytest.raises(ValueError, match="rebuild the index"):
            check_format(found, "idx")


def test_block_size_cap():
    # long list with large gaps -> multiple blocks, each <= 64KB accounting
    rng = np.random.RandomState(7)
    n = 60000
    doc_ids = np.cumsum(rng.randint(1, 2**21, n)).tolist()
    tfs = rng.randint(1, 100, n).tolist()
    dls = rng.randint(10, 10000, n).tolist()
    blocks, d, t, l = _roundtrip(doc_ids, tfs, dls)
    assert d == doc_ids and t == tfs and l == dls
    assert len(blocks) > 1
    for b in blocks:
        size = BLOCK_HEADER_BYTES + CHUNK_META_BYTES * len(b.last_doc_ids) + len(b.payload)
        assert size <= BLOCK_SIZE_BYTES


def test_max_min_tf_norm():
    doc_ids = [1, 2, 3]
    tfs = [1, 10, 3]
    dls = [100, 100, 100]
    blocks, *_ = _roundtrip(doc_ids, tfs, dls, avg_dl=100.0)
    norms = tf_norm(np.array(tfs), np.array(dls), 100.0)
    assert blocks[0].max_tf_norm == pytest.approx(norms.max())
    assert blocks[0].min_tf_norm == pytest.approx(norms.min())


def test_non_ascending_rejected():
    with pytest.raises(ValueError):
        encode_postings(np.array([3, 2]), np.array([1, 1]), np.array([5, 5]), 10.0)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**30),  # gap
            st.integers(min_value=1, max_value=1000),   # tf
            st.integers(min_value=0, max_value=2**31 - 1),  # dl, unordered
        ),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(rows):
    gaps = [r[0] for r in rows]
    doc_ids = np.cumsum(gaps) - 1  # may start at 0
    tfs = [r[1] for r in rows]
    dls = [r[2] for r in rows]
    _, d, t, l = _roundtrip(doc_ids.tolist(), tfs, dls)
    assert d == doc_ids.tolist() and t == tfs and l == dls


def test_hw2_layout_roundtrip_and_size():
    """hw2 interleaved absolute-docID varbyte layout (hw2/Lexicon.cpp:82-132):
    round-trips exactly, and is LARGER than the hw3 delta-gap blocked layout
    for dense sorted lists — mirroring the reference's measured 5.96 GB
    (hw2) vs 3.93 GB (hw3) index sizes."""
    import numpy as np

    from sparksearch.codec import (
        decode_postings_hw2,
        encode_postings_hw2,
        encode_postings,
    )

    rng = np.random.Generator(np.random.Philox(key=[3, 1]))
    doc_ids = np.cumsum(rng.integers(1, 4, size=5000)).astype(np.int64) + 100_000
    tfs = rng.integers(1, 30, size=5000).astype(np.int64)

    buf = encode_postings_hw2(doc_ids, tfs)
    d2, t2 = decode_postings_hw2(buf)
    assert (d2 == doc_ids).all() and (t2 == tfs).all()

    dls = np.full(5000, 500, np.int64)
    blocks = encode_postings(doc_ids, tfs, dls, 500.0)
    hw3_payload = sum(len(b.payload) for b in blocks)
    # hw3 payload includes a third (doc-len) stream and still beats hw2's
    # absolute-docID stream on dense lists
    assert len(buf) > hw3_payload
    hw3_docid_tf_only = hw3_payload - sum(int(b.dl_sizes.sum()) for b in blocks)
    assert len(buf) > hw3_docid_tf_only
