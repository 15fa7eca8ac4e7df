"""Fixture-backed DuckDB oracles for entries whose semantics are iterative
or string-processing (not SQL-expressible): the expected result is computed
by an independent single-threaded Python twin and emitted as a typed VALUES
table, so the driver harness can hard-check rows + schema + value hashes
instead of falling back to a rows-only check.

Twins used (all deliberately the dumbest-correct implementations):
* snippets   — oracle/engine.py (pure-Python TAAT BM25) + the snippet
               kernels (pure functions, unit-tested against hand-computed
               reference semantics from hw3/Snippets.cpp)
* frontier   — frontier.oracle_crawl (sequential round-based BFS twin of
               hw1/code/crawler.py semantics)
* index size — oracle/engine.py postings + the numpy block encoder run
               term-at-a-time single-process (checks the distributed
               shuffle/encode pipeline against a single-node pass)

The generators are invoked lazily from ``__spark_entry__.oracle_sql()`` —
fixture SQL is only built when the harness actually asks for it.  The
comparison scale factor comes from $SPARK_GRAFT_TESTDATA (default sf0.01,
the driver's correctness scale).
"""

from __future__ import annotations

import hashlib
import math
import os
import re

ORACLE_SF_DIR = lambda: os.environ.get(  # noqa: E731
    "SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.01"
)


def _micro_half_away(x: float) -> int:
    """round(x * 1e6) with ties half-away-from-zero — the repo-wide *_micro
    convention (matches Spark F.round HALF_UP and DuckDB round())."""
    v = x * 1_000_000
    return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))


def _sql_lit(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ in ("BIGINT", "INT"):
        return f"CAST({int(v)} AS {typ})"
    if typ == "DOUBLE":
        return f"CAST({float(v)!r} AS DOUBLE)"
    s = str(v).replace("'", "''")
    return f"CAST('{s}' AS VARCHAR)"


def values_sql(rows: list[tuple], coldefs: list[tuple[str, str]]) -> str:
    """SELECT over a typed VALUES table; coldefs = [(name, sql_type)]."""
    names = ", ".join(n for n, _ in coldefs)
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in coldefs)
        return f"SELECT {cols} WHERE FALSE"
    vals = ",\n".join(
        "(" + ", ".join(_sql_lit(v, t) for v, (_, t) in zip(row, coldefs)) + ")"
        for row in rows
    )
    return f"SELECT * FROM (VALUES {vals}) AS fixture({names})"


def _load_docs(sf_dir: str) -> list[tuple[int, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    return list(
        zip((int(x) for x in t.column("doc_id").to_pylist()), t.column("text").to_pylist())
    )


def snippets_fixture_sql(qset: list[tuple[int, str, str]], k: int, algo: str = "bm25") -> str:
    """Expected (query_id, rank, doc_id, snippet_md5, cover_micro) for the
    registered snippet entry, from the pure-Python engine twin."""
    from .oracle.engine import build_index, topk as oracle_topk
    from .snippets import calc_word_percent, make_snippet
    from .tokenize import tokenize_text

    docs = _load_docs(ORACLE_SF_DIR())
    idx = build_index(docs)
    text_by = dict(docs)
    dfm = idx.df
    rows = []
    for qid, qtext, mode in qset:
        words = tokenize_text(qtext)
        dfs = [dfm.get(w, 0) for w in words]
        # rank over ALL matching docs by the micro-rounded score (the same
        # (score_micro desc, doc_id asc) contract the Spark entries use)
        ranked = oracle_topk(idx, qtext, mode, k=max(idx.n_docs, 1))
        micro_ranked = sorted(
            ((d, _micro_half_away(s)) for d, s in ranked), key=lambda t: (-t[1], t[0])
        )[:k]
        for rank, (doc_id, _) in enumerate(micro_ranked, 1):
            snip = make_snippet(algo, text_by[doc_id], words, dfs, idx.n_docs, idx.avg_doc_len)
            cover = calc_word_percent(snip, words)
            rows.append(
                (
                    qid,
                    rank,
                    doc_id,
                    hashlib.md5(snip.encode("utf-8")).hexdigest(),
                    _micro_half_away(cover),
                )
            )
    return values_sql(
        rows,
        [
            ("query_id", "INT"),
            ("rank", "INT"),
            ("doc_id", "BIGINT"),
            ("snippet_md5", "VARCHAR"),
            ("cover_micro", "BIGINT"),
        ],
    )


def frontier_fixture_sql(
    seed_idxs: list[int], rounds: int, batch_per_site: int, site_cap: int
) -> str:
    """Expected (url, site, round) from the sequential crawl twin."""
    from .frontier import oracle_crawl, synthetic_link_graph

    urls, edges = synthetic_link_graph()
    seeds = [urls[i] for i in seed_idxs]
    crawled = oracle_crawl(
        seeds, edges, rounds=rounds, batch_per_site=batch_per_site, site_cap=site_cap
    )

    def site(u: str) -> str:
        m = re.match(r"^https?://([^/]+)", u)
        return m.group(1) if m else ""

    rows = [(u, site(u), r) for u, r in sorted(crawled.items())]
    return values_sql(rows, [("url", "VARCHAR"), ("site", "VARCHAR"), ("round", "INT")])


def streaming_fixture_sql(
    qset: list[tuple[int, str, str]], k: int, n_batches: int, bucket_span: int
) -> str:
    """Expected (query_id, rank, doc_id, path, score_micro, n_docs, n_batches)
    for the ``streaming_incremental`` entry: a sequential twin of the
    micro-batch ingest (streaming.ingest_batch's doc-id policy — per-batch
    dense ids in (content length, repo, path) order, the key of
    ``corpus.length_ordered_documents``, at an offset rounded UP to the next
    ``bucket_span`` multiple, ``avg_doc_len`` PINNED to the first batch's
    mean, hw3/config.h:60 analog) followed by exhaustive BM25 over the
    union of all batches.  Batch b = docs with original doc_id % n_batches
    == b, ingested in ascending b (the entry fixes file mtimes so the
    FileStreamSource drains them in exactly this order)."""
    import pyarrow.parquet as pq

    from .oracle.engine import build_index
    from .oracle.engine import topk as oracle_topk

    t = pq.read_table(
        os.path.join(ORACLE_SF_DIR(), "documents.parquet"),
        columns=["doc_id", "text", "source"],
    )
    recs = list(
        zip(
            (int(x) for x in t.column("doc_id").to_pylist()),
            t.column("text").to_pylist(),
            t.column("source").to_pylist(),
        )
    )
    # adapter shape (corpus.documents_from_testdata): repo=source,
    # path=source/doc_id
    batches: list[list[tuple[str, str, str]]] = [[] for _ in range(n_batches)]
    for did, text, src in recs:
        batches[did % n_batches].append((src, f"{src}/{did}", text))
    next_id = 0
    docs: list[tuple[int, str]] = []
    path_by: dict[int, str] = {}
    pinned: float | None = None
    for b in batches:
        b.sort(key=lambda r: (len(r[2]), r[0], r[1]))
        offset = -(-next_id // bucket_span) * bucket_span
        for i, (_repo, path, text) in enumerate(b):
            docs.append((offset + i, text))
            path_by[offset + i] = path
        next_id = offset + len(b)
        if pinned is None and b:
            # exact: doc lengths are ints, their sum is exact in double, so
            # this equals Spark's F.avg over any partitioning
            pinned = sum(len(text) for _r, _p, text in b) / len(b)
    idx = build_index(docs)
    idx.avg_doc_len = float(pinned or 1.0)
    rows = []
    for qid, qtext, mode in qset:
        ranked = oracle_topk(idx, qtext, mode, k=max(idx.n_docs, 1))
        micro_ranked = sorted(
            ((d, _micro_half_away(s)) for d, s in ranked), key=lambda x: (-x[1], x[0])
        )[:k]
        for rank, (doc_id, sm) in enumerate(micro_ranked, 1):
            rows.append((qid, rank, doc_id, path_by[doc_id], sm, idx.n_docs, n_batches))
    return values_sql(
        rows,
        [
            ("query_id", "INT"),
            ("rank", "INT"),
            ("doc_id", "BIGINT"),
            ("path", "VARCHAR"),
            ("score_micro", "BIGINT"),
            ("n_docs", "BIGINT"),
            ("n_batches", "INT"),
        ],
    )


def index_stats_fixture_sql() -> str:
    """Expected (n_blocks, payload_bytes, n_postings, n_terms) from a
    single-process term-at-a-time pass over the oracle postings (block
    geometry: bucket_span=None — one run per term, as the registered entry
    builds at test scale)."""
    import numpy as np

    from .codec import encode_postings
    from .oracle.engine import build_index

    docs = _load_docs(ORACLE_SF_DIR())
    idx = build_index(docs)
    n_blocks = payload_bytes = n_postings = 0
    for _term, pl in idx.postings.items():
        d = np.array([p[0] for p in pl], np.int64)
        tf = np.array([p[1] for p in pl], np.int64)
        dl = np.array([idx.doc_len[p[0]] for p in pl], np.int64)
        for b in encode_postings(d, tf, dl, idx.avg_doc_len):
            n_blocks += 1
            payload_bytes += len(b.payload)
            n_postings += b.n_postings
    row = (n_blocks, payload_bytes, n_postings, len(idx.postings))
    return values_sql(
        [row],
        [
            ("n_blocks", "BIGINT"),
            ("payload_bytes", "BIGINT"),
            ("n_postings", "BIGINT"),
            ("n_terms", "BIGINT"),
        ],
    )
