"""BM25 query evaluation — set-at-a-time over the postings table.

Reference semantics (hw3/DataLoader.cpp:372-430 TAATQuery):

* DISJUNCTIVE (OR): score every doc containing >=1 query term; per-term scores
  accumulate (a term repeated in the query scores repeatedly — word_list keeps
  duplicates, hw3/DataLoader.cpp:432-458).  We express the bag as a per-term
  integer ``weight``.
* CONJUNCTIVE (AND): only docs containing ALL distinct query terms survive; a
  query term absent from the corpus yields an empty result (the reference's
  empty seed list, hw3/DataLoader.cpp:409-410).
* top-k = 20 by (score desc, doc_id asc) — tie-break pinned by us; the
  reference heap leaves ties insertion-dependent (hw3/DataLoader.cpp:644-649).
* Deviation (documented, SURVEY.md §5): the reference's dense score array can
  pad disjunctive results with zero-score non-matching docs when fewer than k
  docs match (hw3/DataLoader.cpp:378,653-660); we return matching docs only.

Physical shape (scale notes):
* query terms are a tiny dimension -> ``broadcast`` hash join against the
  postings fact (no shuffle of postings on term);
* per-term df comes from the lexicon *semi-joined to the query terms first*
  (the full lexicon at 10^12-doc scale is too big to broadcast; the filtered
  slice is a handful of rows);
* the per-(query,doc) aggregate is one shuffle with map-side partial agg;
* top-k uses ``row_number`` over (query_id) — Spark >=3.5 inserts a
  WindowGroupLimit partial top-k on the map side, so no executor ever holds
  more than k rows per query per partition (the distributed twin of the
  reference's bounded heap, hw3/DataLoader.cpp:636-671).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bm25 import bm25_contribution, bm25_idf_py
from .constants import CONJUNCTIVE, TOP_K
from .tokenize import tokenize_text

QUERY_TERMS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("mode", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("weight", T.IntegerType(), False),
        T.StructField("n_terms", T.IntegerType(), False),
    ]
)


def query_term_rows(queries: list[tuple[int, str, str]]) -> list[dict]:
    """Tokenize a (tiny) query batch driver-side into bag-of-terms rows.

    Mirrors splitQuery (hw3/DataLoader.cpp:432-458): same separator set,
    duplicates folded into ``weight``; ``n_terms`` = distinct terms per
    query.  Passed to :func:`wand.wand_topk_batch`, the list gets df/idf
    and signature dedup on the driver — the form for interactive and small
    batches.  A small list then scores on the driver inside the call (over
    a local parquet blocks table with no Spark job, else after one pruned
    blocks scan); a larger one is broadcast to the shard tasks."""
    rows = []
    for qid, text, mode in queries:
        toks = tokenize_text(text)
        cnt = Counter(toks)
        for term, w in cnt.items():
            rows.append(
                {
                    "query_id": int(qid),
                    "mode": mode,
                    "term": term,
                    "weight": int(w),
                    "n_terms": len(cnt),
                }
            )
    return rows


def query_terms_df(spark: SparkSession, queries: list[tuple[int, str, str]]) -> DataFrame:
    """:func:`query_term_rows` as a DataFrame — the relational form used by
    the join-based exhaustive scorer :func:`topk`.  Passed to
    :func:`wand.wand_topk_batch`, a DataFrame takes the relational ingest
    (nothing collected to the driver), which wins from about 10^5 queries
    per call; smaller batches should pass the list form."""
    rows = [
        (r["query_id"], r["mode"], r["term"], r["weight"], r["n_terms"])
        for r in query_term_rows(queries)
    ]
    return spark.createDataFrame(rows, QUERY_TERMS_SCHEMA)


def score_postings(postings: DataFrame, lexicon: DataFrame, qterms: DataFrame, n_docs: int, avg_doc_len: float) -> DataFrame:
    """Per-(query, doc, term) partial BM25 scores.

    lexicon ⋉ query_terms first (pushdown of the term predicate), then the
    enriched tiny dim is broadcast into the postings scan — Catalyst pushes the
    ``term IN (...)`` semi-join down to the parquet scan of postings.
    """
    # literal IN-list pushdown: the query vocabulary is tiny and known
    # driver-side, so filtering on it BEFORE the broadcast join lets the
    # predicate reach the parquet scan (a broadcast join alone would scan
    # every posting)
    query_vocab = [r["term"] for r in qterms.select("term").distinct().collect()]
    lex_slice = lexicon.select("term", *[c for c in ("df",) if c in lexicon.columns]).filter(
        F.col("term").isin(query_vocab)
    )
    # idf computed ONCE driver-side (Python libm — bm25.bm25_idf_py; the
    # JVM's Math.log can differ by 1 ulp, flipping exact ties vs the numpy
    # evaluators) and joined in as a plain double.  The collect is
    # O(|query vocab|) — the same tiny lexicon slice wand.py collects.
    dfs = {r["term"]: int(r["df"]) for r in lex_slice.collect()}
    spark = qterms.sparkSession
    idf_df = spark.createDataFrame(
        [(t, bm25_idf_py(dfs.get(t, 0), n_docs)) for t in query_vocab],
        "term string, idf double",
    )
    q_df = qterms.join(F.broadcast(idf_df), "term", "left")
    joined = postings.filter(F.col("term").isin(query_vocab)).join(F.broadcast(q_df), "term")
    # the pinned association (weight*idf)*tf_norm — see bm25.py module
    # docstring; bit-identical to the compressed-index evaluators' per-
    # posting contribution
    partial = bm25_contribution(
        F.col("tf"), F.col("idf"), F.col("doc_len"), F.col("weight"), avg_doc_len
    )
    return joined.select(
        "query_id",
        "mode",
        "doc_id",
        "term",
        "n_terms",
        partial.alias("partial_score"),
    )


def topk(
    postings: DataFrame,
    lexicon: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avg_doc_len: float,
    k: int = TOP_K,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — both modes in one plan.

    OR: groupBy(query,doc).sum (hw3/DataLoader.cpp:376-392 dense-array analog).
    AND: same + distinct-matched-term count == n_terms filter — the hash
    semi-join cascade of hw3/DataLoader.cpp:393-428 collapsed into one
    aggregate; the min-df seed-ordering heuristic is subsumed by the count
    predicate (SURVEY.md §2.3 J2).
    """
    scored = score_postings(postings, lexicon, qterms, n_docs, avg_doc_len)
    agg = scored.groupBy("query_id", "mode", "doc_id", "n_terms").agg(
        F.sum("partial_score").alias("score"),
        F.count("*").alias("matched_terms"),
    )
    survivors = agg.filter(
        (F.col("mode") != CONJUNCTIVE) | (F.col("matched_terms") == F.col("n_terms"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
