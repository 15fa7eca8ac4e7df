"""Corpus sources.

The engine's canonical input is an Iceberg-shaped table of source-code files
``(repo, path, commit, lang, content)`` (BASELINE.json input_hint).  This module
provides:

* a deterministic, distributed synthetic generator of that table (seeded,
  counter-based PRNG per row — independent of partitioning, no external data),
* an adapter from the driver's ``documents.parquet``
  ``(doc_id, text, lang, source, n_chars)``,
* dense docID assignment equivalent to the reference's arrival-order ids
  (hw2/DataLoader.cpp:93,110) — implemented scale-safely (no single-partition
  global window): seeded-sample range buckets of the ordering key, a count
  per bucket, then ``offset[bucket] + row_number()`` over a window
  partitioned by bucket.

Canonical ``documents`` schema produced by both paths:
  doc_id long, repo string, path string, commit string, lang string,
  content string, doc_len long, content_sha256 string
``doc_len`` is the **character length** of content — the reference uses char
length as the BM25 document-length norm (hw2/DataLoader.cpp:96,
hw3/DataLoader.cpp:307), not token count.
"""

from __future__ import annotations

import hashlib
from itertools import accumulate
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("doc_len", T.LongType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

_LANGS = ["py", "c", "cpp", "java", "go"]

# Zipf-skewed vocabulary: hot code keywords guarantee the skewed-term test bed
# (north_rule: "skewed terms like 'if'/'return'"), tail gives discrimination.
_HOT = ["if", "return", "the", "for", "int", "x", "i"]
_MID = [
    "def", "else", "while", "import", "class", "void", "static", "func",
    "self", "data", "value", "result", "index", "count", "buffer", "len",
    "size", "node", "list", "map", "key", "str", "err", "nil", "true",
    "false", "print", "range", "append", "struct", "const", "float",
]
_TAIL = [f"sym{j}" for j in range(400)]


def _gen_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    vocab = np.array(_HOT * 40 + _MID * 6 + _TAIL, dtype=object)
    rows = []
    for i in ids:
        i = int(i)
        rng = np.random.Generator(np.random.Philox(key=[seed, i]))
        n_tokens = int(rng.integers(30, 600))
        toks = rng.choice(vocab, size=n_tokens)
        # one rare, doc-unique token: exercises conjunctive / rare-term paths
        toks[int(rng.integers(0, n_tokens))] = f"uniq{i}tok"
        # assemble code-ish lines with separator variety
        parts = []
        for j in range(0, n_tokens, 8):
            line = " ".join(toks[j : j + 8])
            sep = ("(", ");") if (i + j) % 3 == 0 else ("[", "]") if (i + j) % 3 == 1 else ("", ":")
            parts.append(sep[0] + line + sep[1])
        content = "\n".join(parts)
        repo = f"org{i % 20}/proj{i % 7}"
        lang = _LANGS[i % len(_LANGS)]
        path = f"src/m{i // 100}/f{i}.{lang}"
        commit = hashlib.sha256(f"{repo}:{path}:{seed}".encode()).hexdigest()[:40]
        rows.append((repo, path, commit, lang, content))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def synthetic_corpus(spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic source-code corpus, generated distributed.

    Content is a pure function of (seed, row index) via a counter-based Philox
    stream, so the table is identical regardless of partitioning — at 10^12
    files this generator is embarrassingly parallel with no driver state.
    """
    if partitions is None:
        partitions = max(8, min(256, n_docs // 2000 + 1))
    base = spark.range(0, n_docs, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_batch(pdf["id"].to_numpy(), seed)

    return base.mapInPandas(gen, schema=CORPUS_SCHEMA)


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Dense 0-based ids in ``order_cols`` order, without a global-window
    single-partition sort.  ``order_cols`` must be a unique key.

    The range bucket of each row is an **explicit expression** (a
    boundary list sampled once, inlined into a comparison), never
    re-derived per job — ``repartitionByRange`` re-samples per job, so two
    jobs over the same plan can disagree about partition boundaries and
    corrupt the offsets (observed at 60k rows).
    Two small eager collects — the boundary sample (each partition's keys of
    smallest seeded hash), then a count per bucket → cumulative offsets —
    and one lazy Catalyst expression:
    ``offset[__bucket] + row_number() OVER (PARTITION BY __bucket ORDER BY
    __key) - 1``, the offsets inlined as a literal array.  This is the
    distributed analog of the reference's sequential docID assignment
    (hw2/DataLoader.cpp:93,110); the bounds only balance the buckets, never
    move ids.  No Python runs per row, so a caller that drops ``doc_id``
    lets the optimizer prune the window and its shuffle.

    Cost at scale: the window shuffles by bucket, sorts by key, then
    buffers each bucket's rows (every column) before numbering them, in
    Spark's spill-backed window buffer; a pandas pass after the same sort
    could stream them instead.  A bucket holds about
    ``rows / num_partitions`` rows, and ``num_partitions`` defaults to the
    input's partition count (at least 8).  The sample job sorts each input
    partition's keys (only the key column) in place, with no shuffle.

    INVARIANT: ``order_cols`` values must not contain ``\\x00``/``\\x01``
    control characters.  The total order here compares the
    ``\\x01``-joined concatenation, while SQL oracles (e.g. DuckDB's
    lenordered remap) compare the column TUPLE — the two orders agree
    exactly when no value contains a codepoint ≤ the separator.  Corpus
    identifiers (repo, path, zero-padded lengths) satisfy this by
    construction; an ingest adapter feeding arbitrary bytes must sanitize
    or pre-escape them first (ADVICE r4).
    """
    n_in = df.rdd.getNumPartitions()
    if num_partitions is None:
        num_partitions = max(n_in, 8)

    key = F.concat_ws("\x01", *[F.col(c) for c in order_cols])
    d = df.withColumn("__key", key)

    if num_partitions > 1:
        # each input partition's keys of smallest seeded hash, sorted in
        # place and numbered by monotonically_increasing_id (its low 33 bits
        # count rows within a partition): about num_partitions * 100 keys in
        # all at any row count, in one job with no shuffle
        per = -(-num_partitions * 100 // max(n_in, 1))
        ranked = (
            d.select("__key")
            .sortWithinPartitions(F.xxhash64(F.lit(seed), "__key"), "__key")
            .withColumn("__i", F.monotonically_increasing_id() % (1 << 33))
        )
        sample = sorted(r[0] for r in ranked.where(F.col("__i") < per).select("__key").collect())
        step = max(len(sample) // num_partitions, 1)
        bounds = sorted(set(sample[step::step]))[: num_partitions - 1]
    else:
        bounds = []
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.size(F.filter(barr, lambda b: b <= F.col("__key")))
    else:
        bucket = F.lit(0)
    d = d.withColumn("__bucket", bucket)

    counts = {
        r["__bucket"]: r["cnt"]
        for r in d.groupBy("__bucket").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = accumulate((counts.get(b, 0) for b in range(len(bounds))), initial=0)
    offset = F.array(*map(F.lit, offsets)).cast("array<long>")[F.col("__bucket")]
    rank = F.row_number().over(Window.partitionBy("__bucket").orderBy("__key"))
    return d.select((offset + rank - 1).alias("doc_id"), *df.columns)


def documents_from_corpus(corpus: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """Canonical documents table from the (repo,path,commit,lang,content) corpus.

    docID ordering contract: dense ids in ``order_cols`` order (default
    (repo, path) — the stable replacement for the reference's
    parse-arrival order, SURVEY.md §1.1).  Alternative orderings are an
    index-layout knob: e.g. length-ordered ids (document reordering)
    concentrate BM25 score mass along the doc_id axis, which makes
    per-bucket score bounds discriminative and lets the batch evaluator's
    bound-skipping fire (wand.py wand_topk_batch) — see
    ``length_ordered_documents``.
    """
    with_ids = assign_dense_ids(corpus, order_cols or ["repo", "path"])
    return with_ids.select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.length("content").cast("long").alias("doc_len"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


def length_ordered_documents(corpus: DataFrame) -> DataFrame:
    """Documents with docIDs assigned in ascending content-length order.

    Document reordering: BM25's length norm makes short docs score high,
    so length-ordered ids give every (term, bucket) a tight, monotone
    tf_norm range — block-max bounds then separate buckets sharply and
    the top-k kernel's bound skipping prunes most of the index for top-k
    queries.  Delta-gap compression also improves because
    similar docs cluster.  (repo, path) tie-breaks keep the key unique.
    """
    keyed = corpus.withColumn(
        "__len_key", F.lpad(F.length("content").cast("string"), 10, "0")
    )
    return documents_from_corpus(keyed, ["__len_key", "repo", "path"])


def reorder_documents(documents: DataFrame) -> DataFrame:
    """Re-assign dense docIDs of an EXISTING canonical documents table in
    ascending content-length order: :func:`length_ordered_documents` over
    its corpus columns, so the ids are identical.  When ``documents`` is
    still a plan (e.g. ``documents_from_corpus(corpus)``), the optimizer
    prunes that plan's id window, shuffle and sha256, since their outputs
    are dropped; only its small eager collects have run."""
    return length_ordered_documents(documents.select(*CORPUS_SCHEMA.fieldNames()))


def documents_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: driver's documents.parquet -> canonical schema.

    (doc_id, text, lang, source, n_chars) maps as repo=source,
    path=source/doc_id, commit=sha256-derived, content=text (FIXTURES.md §1).
    Keeps the driver's doc_id (already dense + stable).
    """
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return raw.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("repo"),
        F.concat_ws("/", "source", "doc_id").alias("path"),
        F.substring(F.sha2(F.concat_ws("/", "source", "doc_id"), 256), 1, 40).alias("commit"),
        "lang",
        F.col("text").alias("content"),
        F.length("text").cast("long").alias("doc_len"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )
