"""Varbyte + delta-gap blocked posting-list codec (pure numpy, Spark-free).

Layout pinned to the reference (hw3/Lexicon.cpp:65-219 WriteBlocks,
hw3/DataLoader.cpp:4-26 decodeVarbyte, hw3/config.h:41-42):

* varbyte: LSB-first 7-bit groups, high bit = continuation
  (hw3/Lexicon.cpp:4-21).  DEVIATION (documented, SURVEY.md §1.4): the
  reference emits ZERO bytes for value 0 (`while (value > 0)`), a latent bug
  when docID 0 opens a chunk; we encode 0 as b"\\x00".
* chunks of 64 postings (POSTINGS_IN_BLOCK, hw3/config.h:41); docIDs are
  delta-gap encoded with the gap base RESET to 0 at every chunk boundary
  (hw3/Lexicon.cpp:103-112) — chunks are therefore independently decodable,
  which is what makes the distributed bucketed build (blocks.py) possible.
* tfs varbyte-encoded raw.
* blocks <= 64 KB: greedy packing of chunks, block cost = 4-byte chunk-count
  header + per chunk (metadata + payload) (hw3/Lexicon.cpp:145-165).
* per-chunk metadata: last_docID, docID byte size, tf byte size
  (hw3/Lexicon.cpp:167-189) — 12 bytes in the reference, 16 here
  (``CHUNK_META_BYTES``) because of the doc-length byte size field (see
  EXTENSIONS); payload interleaves per chunk: docID bytes then tf bytes
  (hw3/Lexicon.cpp:191-209), then doc-length bytes.

EXTENSIONS over the reference (both documented design changes for the
distributed engine, not accidents):

* a third per-chunk stream of per-posting doc lengths (varbyte), so a block
  is self-contained for exact BM25 scoring — the reference instead does O(1)
  in-memory DocTable lookups per posting (hw3/DataLoader.cpp:307), which has
  no cheap distributed equivalent inside the scoring kernel;
* per-block max/min of the idf-independent BM25 factor
  tf_norm = (k1+1)*tf/(K+tf) — multiplied by the term's idf at query time
  this gives the per-block score bound that the top-k kernel's θ-skipping
  uses (idf may be negative here, hence min AND max are kept).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .constants import (
    BLOCK_HEADER_BYTES,
    BLOCK_SIZE_BYTES,
    BM25_B,
    BM25_K1,
    POSTINGS_PER_CHUNK,
)

# per-chunk metadata cost: last_docID + 3 stream sizes, 4 bytes each
CHUNK_META_BYTES = 16


def varbyte_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized varbyte encode. Returns (buffer, bytes_per_value)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, np.int64)
    nb = np.ones(n, np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += (t > 0)
        t >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    total = int(ends[-1])
    idx = np.arange(total, dtype=np.int64)
    gid = np.searchsorted(ends, idx, side="right")
    pos = (idx - starts[gid]).astype(np.uint64)
    sev = (v[gid] >> (np.uint64(7) * pos)) & np.uint64(0x7F)
    cont = ((pos < (nb[gid] - 1).astype(np.uint64)).astype(np.uint8)) << 7
    out = sev.astype(np.uint8) | cont
    return out.tobytes(), nb


def varbyte_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Vectorized varbyte decode of a whole buffer -> uint64 values."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if len(b) == 0:
        return np.zeros(0, np.uint64)
    is_last = (b & 0x80) == 0
    n_groups = int(is_last.sum())
    gid = np.cumsum(is_last) - is_last  # group index per byte
    last_pos = np.flatnonzero(is_last)
    starts = np.r_[0, last_pos[:-1] + 1]
    pos = (np.arange(len(b)) - starts[gid]).astype(np.uint64)
    vals = np.zeros(n_groups, np.uint64)
    np.add.at(vals, gid, (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos))
    return vals


def tf_norm(tfs: np.ndarray, doc_lens: np.ndarray, avg_doc_len: float) -> np.ndarray:
    """(k1+1)*tf / (K+tf): the idf-independent BM25 factor (op order pinned
    to hw3/DataLoader.cpp:302-314)."""
    K = BM25_K1 * ((1 - BM25_B) + BM25_B * doc_lens.astype(np.float64) / avg_doc_len)
    tf = tfs.astype(np.float64)
    return (BM25_K1 + 1) * tf / (K + tf)


@dataclass
class EncodedBlock:
    block_id: int
    n_postings: int
    last_doc_ids: np.ndarray   # int64 per chunk
    docid_sizes: np.ndarray    # int32 per chunk
    tf_sizes: np.ndarray       # int32 per chunk
    dl_sizes: np.ndarray       # int32 per chunk
    payload: bytes
    max_tf_norm: float
    min_tf_norm: float


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avg_doc_len: float,
) -> list[EncodedBlock]:
    """Encode one term's (bucket's) postings, sorted ascending by doc_id."""
    doc_ids = np.ascontiguousarray(doc_ids, np.int64)
    n = len(doc_ids)
    if n == 0:
        return []
    if n > 1 and (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc_ids must be strictly ascending")  # the 'nooo' check, hw3/Lexicon.cpp:98-101

    # delta-gap with reset per 64-posting chunk (hw3/Lexicon.cpp:103-112)
    gaps = np.empty(n, np.int64)
    gaps[0] = doc_ids[0]
    gaps[1:] = np.diff(doc_ids)
    chunk_starts = np.arange(0, n, POSTINGS_PER_CHUNK)
    gaps[chunk_starts] = doc_ids[chunk_starts]
    gaps[0] = doc_ids[0]
    # chunk starts after the first: gap base resets to 0 -> absolute docID
    norms = tf_norm(tfs, doc_lens, avg_doc_len)

    n_chunks = len(chunk_starts)
    chunk_ends = np.minimum(chunk_starts + POSTINGS_PER_CHUNK, n)

    # encode whole streams once, split per chunk by cumulative value sizes
    gap_buf, gap_nb = varbyte_encode(gaps)
    tf_buf, tf_nb = varbyte_encode(tfs)
    dl_buf, dl_nb = varbyte_encode(doc_lens)
    gap_off = np.r_[0, np.cumsum(gap_nb)]
    tf_off = np.r_[0, np.cumsum(tf_nb)]
    dl_off = np.r_[0, np.cumsum(dl_nb)]

    chunks = []
    for ci in range(n_chunks):
        s, e = int(chunk_starts[ci]), int(chunk_ends[ci])
        chunks.append(
            (
                int(doc_ids[e - 1]),
                gap_buf[int(gap_off[s]) : int(gap_off[e])],
                tf_buf[int(tf_off[s]) : int(tf_off[e])],
                dl_buf[int(dl_off[s]) : int(dl_off[e])],
                float(norms[s:e].max()),
                float(norms[s:e].min()),
                e - s,
            )
        )

    # greedy block packing (hw3/Lexicon.cpp:145-165); always >=1 chunk/block
    blocks: list[EncodedBlock] = []
    i = 0
    while i < n_chunks:
        size = BLOCK_HEADER_BYTES
        j = i
        while j < n_chunks:
            add = CHUNK_META_BYTES + len(chunks[j][1]) + len(chunks[j][2]) + len(chunks[j][3])
            if j > i and size + add > BLOCK_SIZE_BYTES:
                break
            size += add
            j += 1
        sel = chunks[i:j]
        payload = b"".join(c[1] + c[2] + c[3] for c in sel)
        blocks.append(
            EncodedBlock(
                block_id=len(blocks),
                n_postings=sum(c[6] for c in sel),
                last_doc_ids=np.array([c[0] for c in sel], np.int64),
                docid_sizes=np.array([len(c[1]) for c in sel], np.int32),
                tf_sizes=np.array([len(c[2]) for c in sel], np.int32),
                dl_sizes=np.array([len(c[3]) for c in sel], np.int32),
                payload=payload,
                max_tf_norm=max(c[4] for c in sel),
                min_tf_norm=min(c[5] for c in sel),
            )
        )
        i = j
    return blocks


def chunk_offsets(
    docid_sizes: np.ndarray, tf_sizes: np.ndarray, dl_sizes: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-chunk byte offsets inside a block payload: (chunk_start,
    docid_end, tf_end, dl_end) — chunk i's three streams live at
    [start, d_end), [d_end, t_end), [t_end, l_end)."""
    d = np.asarray(docid_sizes, np.int64)
    t = np.asarray(tf_sizes, np.int64)
    l = np.asarray(dl_sizes, np.int64)
    total = d + t + l
    start = np.r_[0, np.cumsum(total)[:-1]]
    return start, start + d, start + d + t, start + total


def encode_postings_hw2(doc_ids: np.ndarray, tfs: np.ndarray) -> bytes:
    """The hw2 final-index layout: per posting, varbyte(docID) then
    varbyte(tf), interleaved; ABSOLUTE docIDs (the delta line is commented
    out in the reference, hw2/Lexicon.cpp:88,126), no chunks, no blocks
    (hw2/Lexicon.cpp:82-132 WriteBitArray).  Kept for layout parity /
    size-comparison studies; the hw3 blocked layout (encode_postings) is
    the engine's operational format."""
    n = len(doc_ids)
    inter = np.empty(2 * n, np.int64)
    inter[0::2] = np.ascontiguousarray(doc_ids, np.int64)
    inter[1::2] = np.ascontiguousarray(tfs, np.int64)
    buf, _ = varbyte_encode(inter)
    return buf


def decode_postings_hw2(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_postings_hw2` (hw2 read path analog)."""
    vals = varbyte_decode(buf).astype(np.int64)
    return vals[0::2], vals[1::2]


def decode_block(
    payload: bytes,
    docid_sizes: np.ndarray,
    tf_sizes: np.ndarray,
    dl_sizes: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids, tfs, doc_lens) for one block (all its chunks).

    Fully vectorized: each of the three interleaved streams is gathered
    into one contiguous buffer and varbyte-decoded ONCE for the whole
    block (3 decode calls instead of 3 per chunk); the per-chunk delta
    reset is undone with a global prefix sum minus per-chunk base
    (hw3/DataLoader.cpp:580-585 is the sequential original)."""
    d = np.asarray(docid_sizes, np.int64)
    t = np.asarray(tf_sizes, np.int64)
    l = np.asarray(dl_sizes, np.int64)
    n_chunks = len(d)
    if n_chunks == 0:
        z = np.zeros(0, np.int64)
        return z, z.copy(), z.copy()
    buf = np.frombuffer(payload, np.uint8)
    start, d_end, t_end, l_end = chunk_offsets(d, t, l)

    def gather(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
        if n_chunks == 1:
            return buf[int(starts[0]) : int(ends[0])]
        return np.concatenate([buf[int(s) : int(e)] for s, e in zip(starts, ends)])

    gap_bytes = gather(start, d_end)
    gaps = varbyte_decode(gap_bytes).astype(np.int64)
    tfs = varbyte_decode(gather(d_end, t_end)).astype(np.int64)
    dls = varbyte_decode(gather(t_end, l_end)).astype(np.int64)

    # values per chunk = varbyte group count per gathered docid slice
    is_last = ((gap_bytes & 0x80) == 0).astype(np.int64)  # cast: bool reduceat clips at 1
    slice_offsets = np.r_[0, np.cumsum(d)[:-1]]
    counts = np.add.reduceat(is_last, slice_offsets)
    ends = np.cumsum(counts)
    glob = np.cumsum(gaps)
    base = np.r_[0, glob[ends[:-1] - 1]] if n_chunks > 1 else np.zeros(1, np.int64)
    doc_ids = glob - np.repeat(base, counts)
    return doc_ids, tfs, dls
