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
  (hw3/Lexicon.cpp:191-209), then doc-length bytes.  The doc-length
  stream is coded like the docID stream: a chunk's first length is
  absolute, each later one the delta from the previous posting's length,
  zigzag-mapped (0,-1,1,-2 -> 0,1,2,3) since lengths may go down, then
  varbyte; the base resets at every chunk, so chunks stay independently
  decodable.

EXTENSIONS over the reference (both documented design changes for the
distributed engine, not accidents):

* a third per-chunk stream of per-posting doc lengths, so a block is
  self-contained for exact BM25 scoring — the reference's payload holds only
  docID gaps and tfs and looks lengths up in its in-memory DocTable
  (hw3/Lexicon.cpp:191-209, hw3/DataLoader.cpp:307), which has no cheap
  distributed equivalent inside the scoring kernel; a term-filtered blocks
  frame must also decode on its own.  Under length-ordered doc ids the
  lengths of a posting list ascend with its docIDs, so almost every
  length delta is small and >= 0 (one varbyte byte), and the parquet page
  codec (zstd, ``session.ENGINE_CONF``) compresses the low-entropy stream
  further;
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

# payload layout version: 1 = raw doc lengths, 2 = per-chunk zigzag-delta
# doc lengths.  Both decode without error, so every writer that persists
# blocks records it (the blocks stage's manifest params, which a streamed
# batch's and a compaction's blocks stage share, and the stream state) and
# readers refuse another version.
FORMAT = 2


def check_format(found: int | None, where: str) -> None:
    """Refuse blocks persisted in another payload layout; ``None`` (nothing
    recorded) is format 1, written before the version was kept."""
    if (found or 1) != FORMAT:
        raise ValueError(
            f"{where}: blocks are codec format {found or 1}, this code reads "
            f"format {FORMAT}; rebuild the index"
        )


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


def _chunk_deltas(values: np.ndarray, chunk_starts: np.ndarray) -> np.ndarray:
    """Each value minus its predecessor, except a chunk's first value, which
    stays absolute (the delta base resets to 0 at every chunk)."""
    out = np.empty(len(values), np.int64)
    out[0] = values[0]
    out[1:] = np.diff(values)
    out[chunk_starts] = values[chunk_starts]
    return out


def _zigzag(v: np.ndarray) -> np.ndarray:
    """Signed -> unsigned, small magnitudes to small codes: 0,-1,1,-2 -> 0,1,2,3."""
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_zigzag`."""
    u = u.astype(np.int64)
    return (u >> 1) ^ -(u & 1)


def _undo_chunk_deltas(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_chunk_deltas` on each row of ``deltas``, for chunks
    of ``counts`` values: one prefix sum per row minus each chunk's base
    (the row's sum before the chunk)."""
    glob = np.cumsum(deltas, axis=-1)
    if len(counts) == 1:
        return glob
    base = np.zeros(deltas.shape[:-1] + counts.shape, np.int64)
    base[..., 1:] = glob[..., np.cumsum(counts)[:-1] - 1]
    return glob - np.repeat(base, counts, axis=-1)


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

    # doc ids: delta-gap with reset per 64-posting chunk (hw3/Lexicon.cpp:103-112);
    # doc lengths: zigzag delta with the same reset (they may go down)
    chunk_starts = np.arange(0, n, POSTINGS_PER_CHUNK)
    gaps = _chunk_deltas(doc_ids, chunk_starts)
    dl_deltas = _chunk_deltas(np.asarray(doc_lens, np.int64), chunk_starts)
    norms = tf_norm(tfs, doc_lens, avg_doc_len)

    n_chunks = len(chunk_starts)
    chunk_ends = np.minimum(chunk_starts + POSTINGS_PER_CHUNK, n)

    # encode whole streams once, split per chunk by cumulative value sizes
    gap_buf, gap_nb = varbyte_encode(gaps)
    tf_buf, tf_nb = varbyte_encode(tfs)
    dl_buf, dl_nb = varbyte_encode(_zigzag(dl_deltas))
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

    Fully vectorized: each chunk's three streams are adjacent and each
    ends on a whole varbyte value, so the payload is varbyte-decoded ONCE
    for the whole block (chunk k yields its counts[k] gaps, then tfs, then
    length codes) and split by index arithmetic; the per-chunk delta reset
    of the docID and doc-length streams is undone with a global prefix sum
    minus per-chunk base (hw3/DataLoader.cpp:580-585 is the sequential
    original)."""
    sizes = (
        np.asarray(docid_sizes, np.int64)
        + np.asarray(tf_sizes, np.int64)
        + np.asarray(dl_sizes, np.int64)
    )
    if len(sizes) == 0:
        z = np.zeros(0, np.int64)
        return z, z.copy(), z.copy()
    buf = np.frombuffer(payload, np.uint8)[: int(sizes.sum())]
    vals = varbyte_decode(buf).astype(np.int64)
    n = len(vals) // 3
    if len(sizes) == 1:
        counts = np.array([n])
        gaps, tfs, dl_codes = vals.reshape(3, n)
    else:
        # chunk k holds 3 * counts[k] values: the varbyte groups ending in it
        groups = np.cumsum((buf & 0x80) == 0)[np.cumsum(sizes) - 1]
        counts = np.diff(groups, prepend=0) // 3
        at = np.arange(n) + 2 * np.repeat(np.cumsum(counts) - counts, counts)
        per = np.repeat(counts, counts)
        gaps, tfs, dl_codes = vals[at], vals[at + per], vals[at + 2 * per]
    doc_ids, dls = _undo_chunk_deltas(np.stack([gaps, _unzigzag(dl_codes)]), counts)
    return doc_ids, tfs, dls
