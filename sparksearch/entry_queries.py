"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

Every operator the engine implements is registered here twice: once as a
PySpark plan (``SPARK_QUERIES[name]``, a callable of (spark, sf_dir)) and
once as the exactly-equivalent ANSI SQL string (``ORACLE_SQL[name]``) that
DuckDB runs over the same parquet tables.  The driver compares row counts,
schemas, and order-insensitive value hashes — so:

* every float crossing the boundary is emitted as ``*_micro``: the value
  scaled by 1e6 and rounded to BIGINT (integer equality sidesteps
  double-bit-pattern hashing; both engines round half-away-from-zero);
* every ranking ranks on the micro value with an explicit doc_id/vec_id
  tie-break, so sub-1e-6 float noise cannot flip a rank;
* every hash uses the portable md5-60 family (analysis.md5_hash60 ==
  ``('0x' || substr(md5(x), 1, 15))::BIGINT``), bit-identical in both.

The BM25 query set exercises: multi-term OR/AND, repeated query terms
(weight > 1), hot (high-df, negative-idf) terms, and absent terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analysis import (
    BPE_ISH_PATTERN,
    LANG_PROFILES,
    STOPWORDS,
    doc_fingerprint,
    language_id,
    text_quality,
    token_counts,
)
from .ann import cosine_dup_pairs, cosine_topk, lsh_bucket_topk
from .blocks import build_block_index, decode_block_index, index_size_stats
from .constants import CONJUNCTIVE, DISJUNCTIVE, SEPARATOR_REGEX, TOP_K
from .corpus import documents_from_testdata
from .dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from .query import query_term_rows, query_terms_df, score_postings
from .stats import collection_stats, doc_table, lexicon
from .tokenize import postings_from_documents, tokenize_text
from .wand import wand_topk_batch

# --- shared constants for the registered entries -----------------------------

SEP_SQL = SEPARATOR_REGEX.replace("'", "''")  # SQL-literal-safe separator class
MICRO = 1_000_000

QUERY_SET: list[tuple[int, str, str]] = [
    (1, "hash join merge", DISJUNCTIVE),
    (2, "table scan filter", DISJUNCTIVE),
    (5, "spark spark stream", DISJUNCTIVE),   # repeated term -> weight 2
    (6, "zzznotaterm table", DISJUNCTIVE),    # absent term ignored
    (8, "the a scan", DISJUNCTIVE),           # hot terms (negative idf allowed)
    (3, "sort order window", CONJUNCTIVE),
    (4, "key value", CONJUNCTIVE),
    (7, "zzznotaterm table", CONJUNCTIVE),    # absent term -> empty result
]

JACCARD_N = 3
JACCARD_THRESHOLD = 0.2
JACCARD_MAX_DF = 100
MINHASH_K = 8
MINHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 8
ANN_PROBES = [0, 1, 2, 3, 4, 5, 6, 7]
ANN_K = 10


def micro(col: F.Column) -> F.Column:
    return F.round(col * MICRO, 0).cast("long")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_from_testdata(spark, sf_dir)


def _qterms_values_sql(mode: str) -> str:
    """VALUES rows (query_id, term, weight, n_terms) for one mode,
    produced by the same tokenizer as the Spark path."""
    from collections import Counter

    rows = []
    for qid, text, m in QUERY_SET:
        if m != mode:
            continue
        cnt = Counter(tokenize_text(text))
        for term, w in cnt.items():
            rows.append(f"({qid}, '{term}', {w}, {len(cnt)})")
    return ", ".join(rows)


# --- SQL CTE fragments shared by the oracles ---------------------------------

SQL_TOKS = (
    "toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '{sep}')) AS term "
    "FROM documents)"
).format(sep=SEP_SQL)

SQL_POSTINGS = (
    "postings AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks "
    "WHERE length(term) > 0 GROUP BY doc_id, term)"
)

SQL_SHINGLES = (
    "tarr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '{sep}'), "
    "x -> length(x) > 0) AS arr FROM documents), "
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, greatest(len(arr) - 1, 1)), "
    "i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]))) AS shingle "
    "FROM tarr WHERE len(arr) >= 3)"
).format(sep=SEP_SQL)

H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _bm25_score_sql() -> str:
    # the pinned association (weight*idf)*tf_norm, single-sourced from
    # bm25.bm25_contribution_sql with the CTE's column names
    from .bm25 import bm25_contribution_sql

    return bm25_contribution_sql(
        tf="p.tf", df="l.df", doc_len="d.dl", weight="q.weight",
        n_docs="s.n_docs", avg_doc_len="s.avgdl",
    )


def _topk_sql(mode: str) -> str:
    and_filter = "WHERE matched = n_terms" if mode == CONJUNCTIVE else ""
    return f"""
WITH {SQL_TOKS},
{SQL_POSTINGS},
stats AS (SELECT CAST(count(*) AS BIGINT) n_docs, avg(length(text)) avgdl FROM documents),
doclen AS (SELECT doc_id, CAST(length(text) AS BIGINT) dl FROM documents),
lex AS (SELECT term, CAST(count(*) AS BIGINT) df FROM postings GROUP BY term),
qterms(query_id, term, weight, n_terms) AS (VALUES {_qterms_values_sql(mode)}),
scored AS (
  SELECT q.query_id, p.doc_id, max(q.n_terms) n_terms, count(*) matched,
         sum({_bm25_score_sql()}) score
  FROM qterms q
  JOIN lex l USING (term)
  JOIN postings p USING (term)
  JOIN doclen d ON d.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
),
m AS (SELECT query_id, doc_id, CAST(round(score * {MICRO}) AS BIGINT) score_micro
      FROM scored {and_filter})
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM m
) WHERE rank <= {TOP_K}
"""


def _spark_topk_exhaustive(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    st = collection_stats(docs)
    postings = postings_from_documents(docs)
    lex = lexicon(postings).select("term", "df")
    qt = query_terms_df(spark, [q for q in QUERY_SET if q[2] == mode])
    scored = score_postings(postings, lex, qt, st["n_docs"], st["avg_doc_len"])
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("partial_score").alias("score"),
        F.count("*").alias("matched"),
        F.max("n_terms").alias("n_terms"),
    )
    if mode == CONJUNCTIVE:
        agg = agg.filter(F.col("matched") == F.col("n_terms"))
    m = agg.select("query_id", "doc_id", micro(F.col("score")).alias("score_micro"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        m.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


# --- the registry ------------------------------------------------------------

SPARK_QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}
# name -> zero-arg callable producing the SQL; used for fixture-backed
# oracles (VALUES tables generated by single-threaded Python twins, see
# fixture_oracles.py) so the expensive generation runs only when the
# harness asks for oracle_sql().
LAZY_ORACLE_SQL: dict = {}


def _register(name: str, fn, sql) -> None:
    SPARK_QUERIES[name] = fn
    if callable(sql):
        LAZY_ORACLE_SQL[name] = sql
    elif sql is not None:
        ORACLE_SQL[name] = sql


def _fixture_sf_guard(sf_dir: str) -> None:
    """Fixture-backed oracles generate their expected rows from
    $SPARK_GRAFT_TESTDATA (fixture_oracles.ORACLE_SF_DIR, default sf0.01)
    while the Spark entry runs against the harness-passed ``sf_dir``; if
    the two ever diverge the hard-check would fail spuriously (or pass
    coincidentally).  Fail loudly at entry time instead."""
    import os

    from .fixture_oracles import ORACLE_SF_DIR

    want = os.path.realpath(ORACLE_SF_DIR())
    got = os.path.realpath(sf_dir)
    if want != got:
        raise ValueError(
            f"fixture-backed entry got sf_dir={sf_dir!r} but its oracle "
            f"generates from {want!r}; set SPARK_GRAFT_TESTDATA={sf_dir!r} "
            f"so both sides read the same tables"
        )


# 1. doc table (SURVEY §2.1 S5; DocTable hw3/DocTable.cpp:25-102) + sha256
#    invariant (input_hint: per-row content sha256 equality)
_register(
    "doc_table",
    lambda spark, sf_dir: _docs(spark, sf_dir).select(
        "doc_id", "repo", "path", "doc_len", "content_sha256"
    ),
    """
SELECT doc_id, source AS repo, concat(source, '/', doc_id) AS path,
       CAST(length(text) AS BIGINT) AS doc_len, sha256(text) AS content_sha256
FROM documents
""",
)

# 2. collection stats N/avgdl (SURVEY §2.4 A3; hw3/DocTable.cpp:57-65)
_register(
    "collection_stats",
    lambda spark, sf_dir: _docs(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        micro(F.avg("doc_len")).alias("avg_doc_len_micro"),
    ),
    f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(round(avg(length(text)) * {MICRO}) AS BIGINT) AS avg_doc_len_micro
FROM documents
""",
)

# 3. postings via the vectorized tokenize UDF (SURVEY §2.2 P1/A1;
#    hw2/DataLoader.cpp:27-70) — the UDF path checked against pure SQL
_register(
    "postings",
    lambda spark, sf_dir: postings_from_documents(_docs(spark, sf_dir)),
    f"""
WITH {SQL_TOKS}, {SQL_POSTINGS},
doclen AS (SELECT doc_id, CAST(length(text) AS BIGINT) dl FROM documents)
SELECT p.doc_id, p.term, p.tf, d.dl AS doc_len
FROM postings p JOIN doclen d ON d.doc_id = p.doc_id
""",
)

# 4. lexicon df/cf (SURVEY §2.4 A2; hw3/Lexicon.cpp:124)
_register(
    "lexicon",
    lambda spark, sf_dir: lexicon(postings_from_documents(_docs(spark, sf_dir))),
    f"""
WITH {SQL_TOKS}, {SQL_POSTINGS}
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM postings GROUP BY term
""",
)


# 4b. full doc table with word_nums (SURVEY §2.4 A6; hw2/DataLoader.cpp:69:
#     wordnums = number of DISTINCT terms per doc)
def _doc_table_wordnums(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return doc_table(docs, postings_from_documents(docs)).select("doc_id", "word_nums")


_register(
    "doc_table_wordnums",
    _doc_table_wordnums,
    f"""
WITH {SQL_TOKS}, {SQL_POSTINGS}
SELECT d.doc_id, CAST(coalesce(p.wn, 0) AS BIGINT) AS word_nums
FROM documents d
LEFT JOIN (SELECT doc_id, count(*) wn FROM postings GROUP BY doc_id) p USING (doc_id)
""",
)


# 4c. hw2-layout codec round-trip (SURVEY §1.4 hw2 final index:
#     interleaved varbyte(docID)+varbyte(tf), ABSOLUTE ids, no chunks —
#     hw2/Lexicon.cpp:82-132).  Heritage-format parity entry: encode then
#     decode must reproduce the postings exactly.  applyInPandas per term
#     is fine here (parity check at test scale); the operational format is
#     the hw3 blocked layout with the streaming encoder (blocks.py).
def _hw2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .codec import decode_postings_hw2, encode_postings_hw2

    postings = postings_from_documents(_docs(spark, sf_dir))

    def rt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        buf = encode_postings_hw2(
            pdf["doc_id"].to_numpy(np.int64), pdf["tf"].to_numpy(np.int64)
        )
        d, t = decode_postings_hw2(buf)
        return pd.DataFrame(
            {"term": pdf["term"].iloc[0], "doc_id": d, "tf": t.astype(np.int32)}
        )

    return postings.groupBy("term").applyInPandas(rt, "term string, doc_id long, tf int")


_register(
    "postings_roundtrip_hw2",
    _hw2_roundtrip,
    f"""
WITH {SQL_TOKS}, {SQL_POSTINGS}
SELECT term, doc_id, tf FROM postings
""",
)


# 5. blocked varbyte+delta index round-trip (SURVEY §2.1 S7/§2.7 F3-F5;
#    hw3/Lexicon.cpp:65-219 / hw3/DataLoader.cpp:591-634): encode then decode
#    must reproduce the postings exactly — codec checked against pure SQL
def _roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    st = collection_stats(docs)
    postings = postings_from_documents(docs)
    blocks = build_block_index(postings, st["avg_doc_len"])
    return decode_block_index(blocks).select("doc_id", "term", "tf", "doc_len")


_register(
    "postings_roundtrip",
    _roundtrip,
    f"""
WITH {SQL_TOKS}, {SQL_POSTINGS},
doclen AS (SELECT doc_id, CAST(length(text) AS BIGINT) dl FROM documents)
SELECT p.doc_id, p.term, p.tf, d.dl AS doc_len
FROM postings p JOIN doclen d ON d.doc_id = p.doc_id
""",
)

# 6/7. BM25 exhaustive top-k, OR and AND (SURVEY §2.3 J2, §2.4 A4/A5, §2.5 T3;
#      hw3/DataLoader.cpp:302-314,372-430,636-671)
_register(
    "bm25_topk_or",
    lambda spark, sf_dir: _spark_topk_exhaustive(spark, sf_dir, DISJUNCTIVE),
    _topk_sql(DISJUNCTIVE),
)
_register(
    "bm25_topk_and",
    lambda spark, sf_dir: _spark_topk_exhaustive(spark, sf_dir, CONJUNCTIVE),
    _topk_sql(CONJUNCTIVE),
)

# 8/9. top-k over the compressed index (the batch kernel: index shuffled
#      once by doc bucket, queries broadcast, decode-once-score-many per
#      bucket, per-shard top-k merge) — must equal the exhaustive SQL oracle
#      rank-identically.  bucket_span=None is the single-bucket reference
#      layout (each term encoded as one group).
def _spark_topk_batch(
    spark: SparkSession,
    sf_dir: str,
    mode: str,
    bucket_span: int | None = 128,
    n_shards: int | None = None,
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    st = collection_stats(docs)
    postings = postings_from_documents(docs)
    lex = lexicon(postings).select("term", "df")
    blocks = build_block_index(postings, st["avg_doc_len"], bucket_span=bucket_span)
    qt = query_term_rows([q for q in QUERY_SET if q[2] == mode])
    # micro_rank: bucket truncation + final window both rank on the
    # micro-rounded key (a total order) — exactly k rows needed, no tie
    # slack (ADVICE r2), and the oracle's (score_micro desc, doc_id asc)
    # contract is matched structurally
    raw = wand_topk_batch(
        blocks, lex, qt, st["n_docs"], st["avg_doc_len"], k=TOP_K,
        micro_rank=True, n_shards=n_shards,
    )
    return raw.select(
        "query_id", "rank", "doc_id", micro(F.col("score")).alias("score_micro")
    )


_register(
    "wand_topk_or",
    lambda spark, sf_dir: _spark_topk_batch(spark, sf_dir, DISJUNCTIVE, bucket_span=None),
    _topk_sql(DISJUNCTIVE),
)
_register(
    "wand_topk_and",
    lambda spark, sf_dir: _spark_topk_batch(spark, sf_dir, CONJUNCTIVE, bucket_span=None),
    _topk_sql(CONJUNCTIVE),
)
_register(
    "wand_batch_topk_or",
    lambda spark, sf_dir: _spark_topk_batch(spark, sf_dir, DISJUNCTIVE),
    _topk_sql(DISJUNCTIVE),
)
_register(
    "wand_batch_topk_and",
    lambda spark, sf_dir: _spark_topk_batch(spark, sf_dir, CONJUNCTIVE),
    _topk_sql(CONJUNCTIVE),
)
# same oracle with ONE shard: one task walks every bucket in doc order, so
# the running θ skips the most — hard-green proof that bound skipping
# never changes results, checked by the driver itself
_register(
    "wand_batch_topk_pruned",
    lambda spark, sf_dir: _spark_topk_batch(spark, sf_dir, DISJUNCTIVE, n_shards=1),
    _topk_sql(DISJUNCTIVE),
)


# 9c. the same batch evaluation over a LENGTH-ORDERED docID layout
# (document reordering — corpus.length_ordered_documents): docIDs are
# reassigned densely in ascending content-length order, which makes
# per-bucket score bounds vary monotonically along the doc_id axis — the
# layout on which the running θ's skipping fires (the uniform driver
# layout gives every bucket the same bound).  The oracle reproduces the id
# remap exactly: dense rank over (lpad(length,10,'0'), repo, path) —
# the same (unique) ordering key assign_dense_ids sorts on.
def _spark_topk_batch_lenordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import length_ordered_documents

    corpus = _docs(spark, sf_dir).select("repo", "path", "commit", "lang", "content")
    docs = length_ordered_documents(corpus)
    st = collection_stats(docs)
    postings = postings_from_documents(docs)
    lex = lexicon(postings).select("term", "df")
    blocks = build_block_index(postings, st["avg_doc_len"], bucket_span=128)
    qt = query_term_rows([q for q in QUERY_SET if q[2] == DISJUNCTIVE])
    raw = wand_topk_batch(
        blocks, lex, qt, st["n_docs"], st["avg_doc_len"], k=TOP_K,
        micro_rank=True,
    )
    return raw.select(
        "query_id", "rank", "doc_id", micro(F.col("score")).alias("score_micro")
    )


def _topk_sql_lenordered(mode: str) -> str:
    # the standard top-k oracle over documents with length-ordered ids:
    # prepend the id-remap CTE and point every scan at it (the base SQL
    # has no other 'FROM documents' / 'WITH ' occurrences by construction)
    remap = (
        "documents_lo AS (SELECT row_number() OVER (ORDER BY "
        "lpad(CAST(length(text) AS VARCHAR), 10, '0'), source, "
        "source || '/' || CAST(doc_id AS VARCHAR)) - 1 AS doc_id, text "
        "FROM documents)"
    )
    base = _topk_sql(mode)
    # hard-fail if _topk_sql's shape drifts (e.g. an aliased 'FROM documents d'
    # scan) — a silently-unreplaced scan would keep original doc_ids and only
    # surface as a confusing hash mismatch at driver-parity time (ADVICE r4)
    n_scans = base.count("FROM documents)")
    assert n_scans == 3 and base.count("FROM documents") == n_scans, (
        f"_topk_sql shape changed ({n_scans} 'FROM documents)' scans); "
        "update _topk_sql_lenordered's rewrite"
    )
    assert base.count("WITH ") == 1
    base = base.replace("FROM documents)", "FROM documents_lo)")
    return base.replace("WITH ", f"WITH {remap},\n", 1)


_register(
    "wand_batch_topk_lenordered",
    _spark_topk_batch_lenordered,
    _topk_sql_lenordered(DISJUNCTIVE),
)

# 10. exact dedup by sha256
_register(
    "dedup_exact",
    lambda spark, sf_dir: exact_duplicates(_docs(spark, sf_dir)),
    """
SELECT doc_id, sha256(text) AS dup_group,
       CAST(count(*) OVER (PARTITION BY sha256(text)) AS BIGINT) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS is_canonical
FROM documents
""",
)


# 11. exact n-gram Jaccard near-dup pairs
def _jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=JACCARD_N, threshold=JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    )
    return out.select(
        "doc_a", "doc_b", "inter", "size_a", "size_b", micro(F.col("jaccard")).alias("jaccard_micro")
    )


_register(
    "ngram_jaccard_pairs",
    _jaccard,
    f"""
WITH {SQL_SHINGLES},
shh AS (SELECT doc_id, {H60.format(x="shingle")} sh0 FROM sh),
hot AS (SELECT sh0 FROM shh GROUP BY sh0 HAVING count(*) > {JACCARD_MAX_DF}),
shf AS (SELECT * FROM shh WHERE sh0 NOT IN (SELECT sh0 FROM hot)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) set_size FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, CAST(count(*) AS BIGINT) inter
  FROM shf a JOIN shf b USING (sh0) WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
j AS (
  SELECT doc_a, doc_b, inter, sa.set_size size_a, sb.set_size size_b,
         round(inter::DOUBLE / (sa.set_size + sb.set_size - inter), 6) jacc
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, inter, size_a, size_b,
       CAST(round(jacc * {MICRO}) AS BIGINT) AS jaccard_micro
FROM j WHERE jacc >= {JACCARD_THRESHOLD}
""",
)

# 12. MinHash signatures (one md5-60 base hash + portable affine family)
from .dedup import MINHASH_PRIME, minhash_coeffs  # noqa: E402

_PERM_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(MINHASH_K))
)
SQL_MINHASH_SIG = f"""
shh AS (SELECT doc_id, ({H60.format(x="shingle")}) % {MINHASH_PRIME} x FROM sh),
perm(sig_idx, a, b) AS (VALUES {_PERM_VALUES}),
sig AS (SELECT doc_id, sig_idx, min((a * x + b) % {MINHASH_PRIME}) minhash
        FROM shh CROSS JOIN perm GROUP BY doc_id, sig_idx)
"""

_register(
    "minhash_signatures",
    lambda spark, sf_dir: minhash_signatures(
        _docs(spark, sf_dir), num_hashes=MINHASH_K, n=JACCARD_N
    ),
    f"""
WITH {SQL_SHINGLES},
{SQL_MINHASH_SIG}
SELECT doc_id, sig_idx, minhash FROM sig
""",
)

# 13. MinHash-LSH banded candidate pairs + signature-agreement estimate
_register(
    "minhash_lsh_pairs",
    lambda spark, sf_dir: minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=MINHASH_K, bands=MINHASH_BANDS, n=JACCARD_N
    ).select(
        "doc_a", "doc_b", "agree", micro(F.col("sig_agreement")).alias("sig_agreement_micro")
    ),
    f"""
WITH {SQL_SHINGLES},
{SQL_MINHASH_SIG},
band AS (SELECT doc_id, CAST(sig_idx // {MINHASH_K // MINHASH_BANDS} AS INT) band,
                string_agg(minhash::VARCHAR, ',' ORDER BY sig_idx) vals
         FROM sig GROUP BY doc_id, CAST(sig_idx // {MINHASH_K // MINHASH_BANDS} AS INT)),
bh AS (SELECT doc_id, band, {H60.format(x="vals")} band_hash FROM band),
cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
         FROM bh a JOIN bh b USING (band, band_hash) WHERE a.doc_id < b.doc_id),
agree AS (
  SELECT doc_a, doc_b, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS BIGINT) agree
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b AND sb.sig_idx = sa.sig_idx
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, agree,
       CAST(round(round(agree::DOUBLE / {MINHASH_K}, 6) * {MICRO}) AS BIGINT) AS sig_agreement_micro
FROM agree
""",
)

# 14. SimHash 60-bit fingerprints
_register(
    "simhash",
    lambda spark, sf_dir: simhash(_docs(spark, sf_dir)),
    f"""
WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z0-9_]+')) term
              FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf FROM toks
       WHERE length(term) > 0 GROUP BY doc_id, term),
h AS (SELECT doc_id, tf, {H60.format(x="term")} h FROM tf),
bits AS (SELECT doc_id, CAST(b.range AS INT) b,
                CASE WHEN (h >> CAST(b.range AS INT)) & 1 = 1 THEN tf ELSE -tf END contrib
         FROM h CROSS JOIN range(60) b),
acc AS (SELECT doc_id, b, sum(contrib) s FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM acc GROUP BY doc_id
""",
)

# 15. SimHash near-dup pairs via (t+1)-segment pigeonhole blocking (full
#     recall at hamming <= t; the oracle mirrors the same segment layout,
#     and tests/test_dedup_ann.py proves recall against brute force)
from .dedup import simhash_segments  # noqa: E402

_SEGDEF_VALUES = ", ".join(
    f"({i}, {off}, {(1 << w) - 1})" for i, off, w in simhash_segments(SIMHASH_MAX_HAMMING)
)
_register(
    "simhash_pairs",
    lambda spark, sf_dir: simhash_pairs(_docs(spark, sf_dir), max_hamming=SIMHASH_MAX_HAMMING),
    f"""
WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z0-9_]+')) term
              FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf FROM toks
       WHERE length(term) > 0 GROUP BY doc_id, term),
h AS (SELECT doc_id, tf, {H60.format(x="term")} h FROM tf),
bits AS (SELECT doc_id, CAST(b.range AS INT) b,
                CASE WHEN (h >> CAST(b.range AS INT)) & 1 = 1 THEN tf ELSE -tf END contrib
         FROM h CROSS JOIN range(60) b),
acc AS (SELECT doc_id, b, sum(contrib) s FROM bits GROUP BY doc_id, b),
shash AS (SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) simhash
          FROM acc GROUP BY doc_id),
segdef(seg, off, mask) AS (VALUES {_SEGDEF_VALUES}),
segs AS (SELECT doc_id, simhash, seg, (simhash >> off) & mask seg_val
         FROM shash CROSS JOIN segdef),
cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, a.simhash sh_a, b.simhash sh_b
         FROM segs a JOIN segs b USING (seg, seg_val) WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
""",
)

# 16. text quality features
_register(
    "text_quality",
    lambda spark, sf_dir: text_quality(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct",
        micro(F.col("avg_token_len")).alias("avg_token_len_micro"),
        micro(F.col("alnum_ratio")).alias("alnum_ratio_micro"),
        micro(F.col("stopword_ratio")).alias("stopword_ratio_micro"),
        micro(F.col("quality_score")).alias("quality_score_micro"),
    ),
    f"""
WITH t AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
         list_filter(regexp_split_to_array(text, '{SEP_SQL}'), x -> length(x) > 0) toks,
         CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) n_alnum
  FROM documents),
f AS (
  SELECT doc_id, n_chars,
         CAST(len(toks) AS BIGINT) n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) n_distinct,
         CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) tok_chars,
         CAST(len(list_filter(toks, x -> list_contains({STOPWORDS!r}, x))) AS BIGINT) n_stop,
         n_alnum
  FROM t),
r AS (
  SELECT doc_id, n_chars, n_tokens, n_distinct,
         tok_chars::DOUBLE / greatest(n_tokens, 1) atl,
         n_alnum::DOUBLE / greatest(n_chars, 1) ar,
         n_stop::DOUBLE / greatest(n_tokens, 1) sr,
         n_distinct::DOUBLE / greatest(n_tokens, 1) dr
  FROM f)
SELECT doc_id, n_chars, n_tokens, n_distinct,
       CAST(round(round(atl, 6) * {MICRO}) AS BIGINT) avg_token_len_micro,
       CAST(round(round(ar, 6) * {MICRO}) AS BIGINT) alnum_ratio_micro,
       CAST(round(round(sr, 6) * {MICRO}) AS BIGINT) stopword_ratio_micro,
       CAST(round(round((CASE WHEN atl >= 2.0 AND atl <= 12.0 THEN 1.0 ELSE 0.0 END + ar + dr) / 3.0, 6) * {MICRO}) AS BIGINT) quality_score_micro
FROM r
""",
)

# 17. heuristic language ID (marker-token voting)
_LANG_VALUES = ", ".join(
    f"('{lang}', '{tok}')" for lang, toks in LANG_PROFILES.items() for tok in toks
)
_register(
    "language_id",
    lambda spark, sf_dir: language_id(_docs(spark, sf_dir)),
    f"""
WITH {SQL_TOKS},
nz AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
profiles(lang_cand, term) AS (VALUES {_LANG_VALUES}),
hits AS (SELECT t.doc_id, p.lang_cand, CAST(count(*) AS BIGINT) hits
         FROM nz t JOIN profiles p ON p.term = t.term GROUP BY t.doc_id, p.lang_cand),
best AS (SELECT doc_id, lang_cand, hits,
                row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand ASC) rn
         FROM hits)
SELECT d.doc_id, coalesce(b.lang_cand, 'und') AS pred_lang,
       CAST(coalesce(b.hits, 0) AS BIGINT) AS hits
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
""",
)

# 18. token counting (whitespace / reference charset / BPE-ish pretokenizer)
_register(
    "token_counts",
    lambda spark, sf_dir: token_counts(_docs(spark, sf_dir)),
    f"""
SELECT doc_id, CAST(length(text) AS BIGINT) n_chars,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0)) AS BIGINT) ws_tokens,
       CAST(len(list_filter(regexp_split_to_array(text, '{SEP_SQL}'), x -> length(x) > 0)) AS BIGINT) sep_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) bpe_ish_tokens
FROM documents
""",
)

# 19. document fingerprint (min/max shingle hash; 1-function MinHash)
_register(
    "doc_fingerprint",
    lambda spark, sf_dir: doc_fingerprint(_docs(spark, sf_dir), n=JACCARD_N),
    f"""
WITH {SQL_SHINGLES},
h AS (SELECT doc_id, {H60.format(x="shingle")} h FROM sh)
SELECT doc_id, CAST(count(*) AS BIGINT) n_shingles, min(h) fp_min, max(h) fp_max
FROM h GROUP BY doc_id
""",
)

# 20. brute-force cosine top-k over embeddings (exact ANN baseline)
_ANN_IDS = ", ".join(str(i) for i in ANN_PROBES)
_register(
    "embedding_cosine_topk",
    lambda spark, sf_dir: cosine_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), ANN_PROBES, k=ANN_K
    ).select("probe_id", "rank", "vec_id", micro(F.col("cos_sim")).alias("cos_micro")),
    f"""
WITH probes AS (SELECT vec_id probe_id, embedding::DOUBLE[] pv FROM embeddings
                WHERE vec_id IN ({_ANN_IDS})),
pairs AS (
  SELECT p.probe_id, e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], p.pv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(p.pv, p.pv))), 6) cs
  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id
)
SELECT probe_id, CAST(rank AS INT) rank, vec_id, cos_micro FROM (
  SELECT probe_id, vec_id, CAST(round(cs * {MICRO}) AS BIGINT) cos_micro,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY CAST(round(cs * {MICRO}) AS BIGINT) DESC, vec_id ASC) rank
  FROM pairs
) WHERE rank <= {ANN_K}
""",
)

# 21/21b. LSH-bucketed ANN + embedding near-dup pairs.  Both register the
#     BLOCKED plan (equi-joins on hyperplane sign buckets — never a cartesian
#     join; the exact O(n²) variants remain the pytest recall baselines).
#     The hyperplane family is md5-derived (ann.hyperplane_weight_py), so the
#     DuckDB oracle inlines the same weights as literals and mirrors the
#     candidate generation EXACTLY — bucket-sign parity Spark↔DuckDB is
#     bit-stable (verified at sf0.001/sf0.01: 0 sign mismatches over all
#     500 vectors × 24 planes).
ANN_PLANES = 6
ANN_TABLES = 4
ANN_RADIUS = 1
EMB_DIM = 64  # driver testdata embeddings dim (TESTDATA.md contract)
COSINE_DUP_THRESHOLD = 0.4

from .ann import hyperplane_weight_py  # noqa: E402


def _bucket_sql(vec_expr: str, table_id: int, num_planes: int = ANN_PLANES, dim: int = EMB_DIM) -> str:
    terms = []
    for p in range(num_planes):
        w = ", ".join(repr(hyperplane_weight_py(table_id * num_planes + p, d)) for d in range(dim))
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}, [{w}]) > 0 THEN {1 << p} ELSE 0 END"
        )
    return " + ".join(terms)


def _bucket_cols_sql() -> str:
    return ", ".join(f"({_bucket_sql('v', t)}) AS b{t}" for t in range(ANN_TABLES))


_FLIP_MASKS = [0] + [1 << p for p in range(ANN_PLANES)]  # probe_radius=1 multi-probe
_FLIPS_SQL = ", ".join(str(m) for m in _FLIP_MASKS)

_register(
    "ann_lsh_topk",
    lambda spark, sf_dir: lsh_bucket_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        ANN_PROBES,
        k=ANN_K,
        num_planes=ANN_PLANES,
        num_tables=ANN_TABLES,
        probe_radius=ANN_RADIUS,
    ).select("probe_id", "rank", "vec_id", micro(F.col("cos_sim")).alias("cos_micro")),
    f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] v, {_bucket_cols_sql()} FROM embeddings),
probes AS (SELECT vec_id probe_id, v pv,
                  {', '.join(f'b{t} pb{t}' for t in range(ANN_TABLES))}
           FROM b WHERE vec_id IN ({_ANN_IDS})),
cand AS (
  SELECT DISTINCT p.probe_id, e.vec_id, p.pv, e.v
  FROM probes p JOIN b e ON e.vec_id <> p.probe_id AND (
    {' OR '.join(f'xor(e.b{t}, p.pb{t}) IN ({_FLIPS_SQL})' for t in range(ANN_TABLES))})),
sim AS (
  SELECT probe_id, vec_id,
         round(list_dot_product(v, pv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 6) cs
  FROM cand)
SELECT probe_id, CAST(rank AS INT) rank, vec_id, cos_micro FROM (
  SELECT probe_id, vec_id, CAST(round(cs * {MICRO}) AS BIGINT) cos_micro,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY CAST(round(cs * {MICRO}) AS BIGINT) DESC, vec_id ASC) rank
  FROM sim
) WHERE rank <= {ANN_K}
""",
)

_register(
    "embedding_dup_pairs",
    lambda spark, sf_dir: cosine_dup_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        threshold=COSINE_DUP_THRESHOLD,
        blocked=True,
        num_planes=ANN_PLANES,
        num_tables=ANN_TABLES,
    ).select("vec_a", "vec_b", micro(F.col("cos_sim")).alias("cos_micro")),
    f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] v, {_bucket_cols_sql()} FROM embeddings),
cand AS (
  SELECT a.vec_id vec_a, x.vec_id vec_b, a.v va, x.v vb
  FROM b a JOIN b x ON a.vec_id < x.vec_id AND (
    {' OR '.join(f'a.b{t} = x.b{t}' for t in range(ANN_TABLES))})),
sim AS (
  SELECT vec_a, vec_b,
         round(list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 6) cs
  FROM cand)
SELECT vec_a, vec_b, CAST(round(cs * {MICRO}) AS BIGINT) cos_micro
FROM sim WHERE cs >= {COSINE_DUP_THRESHOLD}
""",
)


# 22. compressed-index size accounting (SURVEY §6 index-size rows) — the
#     oracle is a single-process term-at-a-time pass over the pure-Python
#     postings (fixture VALUES table): checks the distributed shuffle+encode
#     pipeline against a single-node equivalent.
def _index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _fixture_sf_guard(sf_dir)
    docs = _docs(spark, sf_dir)
    st = collection_stats(docs)
    blocks = build_block_index(postings_from_documents(docs), st["avg_doc_len"])
    s = index_size_stats(blocks)
    return spark.createDataFrame(
        [(s["n_blocks"], s["payload_bytes"], s["n_postings"], s["n_terms"])],
        "n_blocks long, payload_bytes long, n_postings long, n_terms long",
    )


def _index_stats_oracle() -> str:
    from .fixture_oracles import index_stats_fixture_sql

    return index_stats_fixture_sql()


_register("index_stats", _index_stats, _index_stats_oracle)


# 23. snippet generation over top-k results (SURVEY §2.7 F9/F10) — string
#     processing with no relational SQL twin; the oracle is a fixture VALUES
#     table generated by the pure-Python engine + snippet kernels
#     (fixture_oracles.snippets_fixture_sql).  Output carries the snippet as
#     an md5 so canonicalization never chokes on embedded newlines/quotes.
SNIPPET_QSET = [q for q in QUERY_SET if q[2] == DISJUNCTIVE][:3]


def _snippets_entry(algo: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .snippets import attach_snippets
        from .tokenize import tokenize_text

        _fixture_sf_guard(sf_dir)
        docs = _docs(spark, sf_dir)
        st = collection_stats(docs)
        postings = postings_from_documents(docs)
        lex = lexicon(postings)
        query_vocab = sorted({w for _, text, _ in SNIPPET_QSET for w in tokenize_text(text)})
        res = _spark_topk_exhaustive(spark, sf_dir, DISJUNCTIVE).filter(
            F.col("query_id").isin([q[0] for q in SNIPPET_QSET])
        )
        # IN-list slice BEFORE collect: only the ~|query vocab| lexicon rows
        # reach the driver (at scale the full lexicon is the vocabulary —
        # 10^7..10^9 rows — and must never be collected wholesale)
        dfs = {
            r["term"]: int(r["df"])
            for r in lex.filter(F.col("term").isin(query_vocab)).collect()
        }
        qinfo = {
            qid: (tokenize_text(text), [dfs.get(w, 0) for w in tokenize_text(text)])
            for qid, text, _ in SNIPPET_QSET
        }
        out = attach_snippets(res, docs, qinfo, st["n_docs"], st["avg_doc_len"], algo=algo)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.md5(F.col("snippet")).alias("snippet_md5"),
            micro(F.col("snippet_cover")).alias("cover_micro"),
        )

    return run


def _snippets_oracle(algo: str):
    def gen() -> str:
        from .fixture_oracles import snippets_fixture_sql

        return snippets_fixture_sql(SNIPPET_QSET, k=TOP_K, algo=algo)

    return gen


# all six reference snippet algorithms (hw3/Snippets.cpp; the 7th, the
# external-service variant, is a documented non-goal) carry hard driver
# oracles — one fixture per algorithm from the same parameterized twin
for _algo in ("bm25", "linear", "prefix", "vsm", "weight", "keyword"):
    _register(f"snippets_{_algo}", _snippets_entry(_algo), _snippets_oracle(_algo))


# 24/25. multimodal plumbing (training-data pipeline): media table with
#        opaque binary payloads + typed metadata; decode/resize/frame-sample
#        as Arrow-batched kernels (decode backend stubbed — no codec libs in
#        this env; schemas/partitioning/batching are real).  The fake decode
#        is an md5 chain over the payload bytes — a pure function DuckDB
#        reproduces exactly, so BOTH entries are hard-checked end-to-end.
MEDIA_N = 120
MEDIA_SEED = 42
MEDIA_EVERY_N = 8

from .multimodal import AUDIO_N_VALS, FEATURE_SEGMENTS  # noqa: E402


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import decode_features, synthetic_media

    return decode_features(
        synthetic_media(spark, MEDIA_N, seed=MEDIA_SEED), n_segments=FEATURE_SEGMENTS
    )


def _media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import sample_frames, synthetic_media

    return sample_frames(synthetic_media(spark, MEDIA_N, seed=MEDIA_SEED), every_n=MEDIA_EVERY_N)


def _media_sql_cte(n: int, seed: int) -> str:
    """CTE fragment regenerating the synthetic media table (metadata +
    payload string) — the SQL twin of multimodal.media_meta_py/payload_py."""

    def h(tag: str) -> str:
        return f"('0x' || substr(md5('{seed}:{tag}:' || media_id), 1, 15))::BIGINT"

    return f"""
m AS (SELECT CAST(range AS BIGINT) media_id FROM range({n})),
meta AS (
  SELECT media_id,
    (['image','audio','video'])[CAST(media_id % 3 AS INT) + 1] kind,
    16 + {h('w')} % 48 w,
    16 + {h('h')} % 48 h,
    8 + {h('n')} % 25 n_frames,
    repeat(md5('{seed}:p:' || media_id), CAST(8 + {h('r')} % 24 AS INT)) payload
  FROM m),
dims AS (
  SELECT media_id, kind, payload, n_frames,
         CASE WHEN kind = 'audio' THEN {AUDIO_N_VALS} ELSE w * h * 3 END n_vals
  FROM meta)"""


_SEG = FEATURE_SEGMENTS
_register(
    "media_decode_features",
    _media_features,
    f"""
WITH {_media_sql_cte(MEDIA_N, MEDIA_SEED)},
blks AS (SELECT media_id, kind, n_vals, payload,
                unnest(range((n_vals + 15) // 16)) blk FROM dims),
vals AS (
  SELECT media_id, kind, n_vals, CAST(blk * 16 + i.range AS BIGINT) idx,
         ('0x' || substr(md5(payload || ':' || blk), CAST(i.range * 2 + 1 AS INT), 2))::BIGINT v
  FROM blks, range(16) i WHERE blk * 16 + i.range < n_vals),
allv AS (
  SELECT media_id, kind, 0 AS dim, v FROM vals
  UNION ALL
  SELECT media_id, kind, CAST(1 + idx // (n_vals // {_SEG}) AS INT) dim, v
  FROM vals WHERE idx < (n_vals // {_SEG}) * {_SEG})
SELECT media_id, kind, CAST(dim AS INT) AS dim,
       CAST(round(avg(v) * {MICRO}) AS BIGINT) AS value_micro
FROM allv GROUP BY media_id, kind, dim
""",
)

_register(
    "media_frame_sample",
    _media_frames,
    f"""
WITH {_media_sql_cte(MEDIA_N, MEDIA_SEED)},
vids AS (SELECT media_id, payload, n_vals,
                unnest(range((n_frames + {MEDIA_EVERY_N - 1}) // {MEDIA_EVERY_N})) fk
         FROM dims WHERE kind = 'video'),
fr AS (SELECT media_id, payload, n_vals, CAST(fk * {MEDIA_EVERY_N} AS INT) frame_idx FROM vids),
blks AS (SELECT media_id, frame_idx, n_vals, payload,
                unnest(range((n_vals + 15) // 16)) blk FROM fr),
vals AS (
  SELECT media_id, frame_idx,
         ('0x' || substr(md5(payload || ':f' || frame_idx || ':' || blk),
                         CAST(i.range * 2 + 1 AS INT), 2))::BIGINT v
  FROM blks, range(16) i WHERE blk * 16 + i.range < n_vals)
SELECT media_id, frame_idx, CAST(round(avg(v) * {MICRO}) AS BIGINT) AS mean_micro
FROM vals GROUP BY media_id, frame_idx
""",
)


# 25b. crawl-frontier scheduling (SURVEY §2 S10/P5/T7/F12 analog;
#      hw1/code/crawler.py) — round-based distributed BFS with per-site
#      budgets over a deterministic synthetic link graph.  The round
#      semantics are iterative (not SQL-expressible), so the oracle is a
#      fixture VALUES table from the sequential twin frontier.oracle_crawl.
FRONTIER_SEEDS = [0, 40]
FRONTIER_PARAMS = dict(rounds=3, batch_per_site=5, site_cap=12)


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .frontier import crawl_frontier, synthetic_link_graph

    urls, edges = synthetic_link_graph()
    seeds = spark.createDataFrame([(urls[i],) for i in FRONTIER_SEEDS], "url string")
    graph = spark.createDataFrame(edges, "src_url string, dst_url string")
    return crawl_frontier(seeds, graph, **FRONTIER_PARAMS)


def _frontier_oracle() -> str:
    from .fixture_oracles import frontier_fixture_sql

    return frontier_fixture_sql(FRONTIER_SEEDS, **FRONTIER_PARAMS)


_register("crawl_frontier", _frontier, _frontier_oracle)


# 25c. streaming incremental index (SURVEY §2.8 Spark-first extension;
#      streaming.py) — the corpus arrives as 3 parquet files drained by a
#      real Structured Streaming query (availableNow, maxFilesPerTrigger=1
#      -> one micro-batch per file, file mtimes fixed so the
#      FileStreamSource's oldest-first order is deterministic).  The oracle
#      is a sequential twin of the ingest policy (length-ordered ids per
#      batch at bucket-aligned offsets, first-batch-pinned avg_doc_len) +
#      exhaustive BM25 over the union
#      (fixture_oracles.streaming_fixture_sql).  Checks the
#      doc-id offset/alignment policy, exactly-once batch accounting
#      (n_batches from the stream state), the pinned-avgdl scoring
#      contract, AND rank/score parity of the top-k kernel over the
#      streamed blocks.
STREAM_BATCHES = 3
STREAM_BUCKET_SPAN = 64


def _streaming_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time

    from .streaming import _load_state, read_index, run_incremental_index

    _fixture_sf_guard(sf_dir)
    root = tempfile.mkdtemp(prefix="sparksearch_stream_entry_")
    try:
        input_dir = os.path.join(root, "input")
        index_dir = os.path.join(root, "index")
        os.makedirs(input_dir)
        corpus = _docs(spark, sf_dir)
        for b in range(STREAM_BATCHES):
            stage = os.path.join(root, f"stage_{b}")
            (
                corpus.filter(F.col("doc_id") % STREAM_BATCHES == b)
                .select("repo", "path", "commit", "lang", "content")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            dst = os.path.join(input_dir, f"batch_{b:02d}.parquet")
            os.replace(os.path.join(stage, part), dst)
            # strictly increasing, well-separated mtimes: the source drains
            # oldest-first, so batch order (hence doc-id offsets) is pinned
            ts = time.time() - 600 + b * 60
            os.utime(dst, (ts, ts))
            shutil.rmtree(stage, ignore_errors=True)
        run_incremental_index(
            spark,
            input_dir,
            index_dir,
            bucket_span=STREAM_BUCKET_SPAN,
            max_files_per_trigger=1,
        )
        docs, blocks, lex, st = read_index(spark, index_dir)
        n_batches = len(_load_state(index_dir)["batches"])
        qt = query_term_rows(QUERY_SET)
        raw = wand_topk_batch(
            blocks, lex.select("term", "df"), qt, st["n_docs"], st["avg_doc_len"],
            k=TOP_K, micro_rank=True,
        )
        res = (
            raw.select("query_id", "rank", "doc_id", micro(F.col("score")).alias("score_micro"))
            .join(F.broadcast(docs.select("doc_id", "path")), "doc_id")
            .select(
                "query_id",
                "rank",
                "doc_id",
                "path",
                "score_micro",
                F.lit(st["n_docs"]).cast("long").alias("n_docs"),
                F.lit(n_batches).cast("int").alias("n_batches"),
            )
        )
        # materialize BEFORE the temp index dir is removed — the returned
        # DataFrame must stay collectable after this function exits
        rows = res.collect()
        return spark.createDataFrame(rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _streaming_oracle() -> str:
    from .fixture_oracles import streaming_fixture_sql

    return streaming_fixture_sql(QUERY_SET, TOP_K, STREAM_BATCHES, STREAM_BUCKET_SPAN)


_register("streaming_incremental", _streaming_incremental, _streaming_oracle)


# 26. evaluation-metric aggregation (SURVEY §2.4 A7;
#     hw3/metrix/genExpResult.py:1-38): per-algorithm means of
#     precision/recall ignoring -1 sentinels.  The eval rows are derived
#     deterministically from doc_ids so the DuckDB oracle reproduces them.
def _eval_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analysis import eval_means

    docs = _docs(spark, sf_dir)
    rows = docs.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("linear"), F.lit("bm25"), F.lit("vsm")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("algo"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(-1.0))
        .otherwise(((F.col("doc_id") * 37) % 100).cast("double") / 100.0)
        .alias("precision"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(-1.0))
        .otherwise(((F.col("doc_id") * 41) % 100).cast("double") / 100.0)
        .alias("recall"),
    )
    out = eval_means(rows, "algo", ["precision", "recall"])
    return out.select(
        "algo",
        micro(F.col("avg_precision")).alias("avg_precision_micro"),
        "n_precision",
        micro(F.col("avg_recall")).alias("avg_recall_micro"),
        "n_recall",
    )


_register(
    "eval_metric_means",
    _eval_means,
    f"""
WITH rows AS (
  SELECT doc_id,
         (['linear', 'bm25', 'vsm'])[CAST(doc_id % 3 + 1 AS INT)] algo,
         CASE WHEN doc_id % 7 = 0 THEN -1.0
              ELSE CAST((doc_id * 37) % 100 AS DOUBLE) / 100.0 END p,
         CASE WHEN doc_id % 11 = 0 THEN -1.0
              ELSE CAST((doc_id * 41) % 100 AS DOUBLE) / 100.0 END r
  FROM documents)
SELECT algo,
       CAST(round(round(avg(CASE WHEN p <> -1 THEN p END), 6) * {MICRO}) AS BIGINT) avg_precision_micro,
       CAST(count(CASE WHEN p <> -1 THEN p END) AS BIGINT) n_precision,
       CAST(round(round(avg(CASE WHEN r <> -1 THEN r END), 6) * {MICRO}) AS BIGINT) avg_recall_micro,
       CAST(count(CASE WHEN r <> -1 THEN r END) AS BIGINT) n_recall
FROM rows GROUP BY algo
""",
)


def flagship(spark: SparkSession) -> DataFrame:
    """entry(): the full pipeline end-to-end at sf0.001 — adapter → tokenize
    UDF → stats/lexicon → compressed block index → batch top-k kernel →
    broadcast join back to (repo, path)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    st = collection_stats(docs)
    postings = postings_from_documents(docs)
    lex = lexicon(postings).select("term", "df")
    blocks = build_block_index(postings, st["avg_doc_len"])
    qt = query_term_rows(QUERY_SET)
    out = wand_topk_batch(blocks, lex, qt, st["n_docs"], st["avg_doc_len"], k=TOP_K)
    return F.broadcast(out).join(
        docs.select("doc_id", "repo", "path", "content_sha256"), "doc_id"
    ).select("query_id", "rank", "doc_id", "score", "repo", "path", "content_sha256")
