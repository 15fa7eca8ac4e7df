"""Correctness gate: independent DuckDB re-computation over the persisted
index files.  Runs outside the timed windows.

Top-k answers are compared at micro-rounded score (round(score * 1e6), half
away from zero) with doc_id-ascending ties, as the ``__spark_entry__.py``
oracle entries compare; the library is called with ``micro_rank=True`` so
its own ranking is a total order on the same key.
"""

from __future__ import annotations

import math

import duckdb

from sparksearch.bm25 import bm25_contribution_sql
from sparksearch.constants import CONJUNCTIVE, TOP_K

MICRO = 1e6


def micro(score: float) -> int:
    v = score * MICRO
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def oracle_topk(
    con, docs_dir: str, postings_dir: str, queries: dict[int, tuple[str, list[tuple[str, int]]]]
) -> dict[int, list[tuple[int, int]]]:
    """{query_id: [(doc_id, score_micro), ...] in rank order} for
    ``queries`` = {query_id: (mode, [(term, weight), ...])}, scored by the
    reference BM25 over the persisted postings and documents."""
    if not queries:
        return {}
    values = ", ".join(
        f"({qid}, {_sql_str(t)}, {w}, {len(terms)}, {_sql_str(mode)})"
        for qid, (mode, terms) in queries.items()
        for t, w in terms
    )
    contrib = bm25_contribution_sql(
        tf="p.tf", df="l.df", doc_len="d.doc_len", weight="q.weight",
        n_docs="s.n_docs", avg_doc_len="s.avgdl",
    )
    sql = f"""
WITH q(query_id, term, weight, n_terms, mode) AS (VALUES {values}),
d AS (SELECT doc_id, doc_len FROM {_pq(docs_dir)}),
s AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM d),
p AS (SELECT doc_id, term, tf FROM {_pq(postings_dir)}
      WHERE term IN (SELECT DISTINCT term FROM q)),
l AS (SELECT term, count(*) AS df FROM p GROUP BY term),
scored AS (
  SELECT q.query_id, p.doc_id, any_value(q.mode) AS mode, any_value(q.n_terms) AS n_terms,
         count(*) AS matched, sum({contrib}) AS score
  FROM q JOIN l USING (term) JOIN p USING (term)
  JOIN d ON d.doc_id = p.doc_id CROSS JOIN s
  GROUP BY q.query_id, p.doc_id
),
m AS (SELECT query_id, doc_id, CAST(round(score * {MICRO}) AS BIGINT) AS score_micro
      FROM scored WHERE mode <> '{CONJUNCTIVE}' OR matched = n_terms)
SELECT query_id, doc_id, score_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM m) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""
    out: dict[int, list[tuple[int, int]]] = {qid: [] for qid in queries}
    for qid, doc_id, sm in con.execute(sql).fetchall():
        out[int(qid)].append((int(doc_id), int(sm)))
    return out


def ranked(rows) -> dict[int, list[tuple[int, int]]]:
    """Library top-k rows (query_id, rank, doc_id, score) -> the oracle's
    shape."""
    out: dict[int, list[tuple[int, int, int]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["doc_id"]), micro(r["score"])))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def topk_mismatches(got: dict[int, list], want: dict[int, list]) -> list[int]:
    """Query ids whose answers differ (a query absent from ``got`` answered
    nothing)."""
    return sorted(q for q in want if got.get(q, []) != want[q])


def build_mismatches(con, out_dir: str, blocks_decoded, terms: list[str]) -> list[str]:
    """Failed build checks: the decoded blocks of ``terms`` must equal the
    persisted postings of those terms, and the lexicon's df must equal the
    posting count of every term."""
    failed = []
    in_list = ", ".join(_sql_str(t) for t in terms)
    want = con.execute(
        f"SELECT term, doc_id, tf, doc_len FROM {_pq(out_dir + '/postings')} "
        f"WHERE term IN ({in_list}) ORDER BY ALL"
    ).fetchall()
    got = sorted((r["term"], int(r["doc_id"]), int(r["tf"]), int(r["doc_len"])) for r in blocks_decoded)
    if [tuple(w) for w in want] != got:
        failed.append("decode_roundtrip")
    bad_df = con.execute(
        f"""SELECT count(*) FROM (SELECT term, df FROM {_pq(out_dir + '/lexicon')}) l
        FULL OUTER JOIN (SELECT term, count(*) AS n FROM {_pq(out_dir + '/postings')} GROUP BY term) p
        USING (term) WHERE l.df IS DISTINCT FROM p.n"""
    ).fetchone()[0]
    if bad_df:
        failed.append("lexicon_df")
    return failed
