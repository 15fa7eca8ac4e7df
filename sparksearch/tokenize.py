"""Tokenization -> postings.

Semantics pinned to the reference tokenizer (hw2/DataLoader.cpp:27-70,
hw3/config.h:59): maximal runs of non-separator characters, NO lowercasing, NO
stemming, empty tokens dropped.

Two equivalent plans are provided:

* :func:`postings_from_documents` — the scale path (default).  A vectorized
  pandas UDF (``mapInPandas``) computes per-document term frequencies
  map-side and emits ONE ROW PER DOCUMENT (terms/tfs arrays); the posting
  fan-out is a JVM-side codegen'd ``arrays_zip``+``explode``, so the Arrow
  boundary carries ~40x fewer rows.  No shuffle at all: the reference's
  in-memory SortedPosting map + 20MB spill runs (hw2/InvertedIndex.cpp:
  82-118) collapse into this single narrow stage; the sorted-run *merge*
  (hw2/DataLoader.cpp:143-255) is whatever shuffle downstream consumers
  ask for.  Adopted over a posting-rows-across-Arrow variant after an
  interleaved A/B in round 2 (faster in every round, ~21% at the median;
  PLANS.md §1).
* :func:`postings_sql_plan` — pure built-in expressions (split/explode/groupBy)
  used as an independent in-Spark cross-check and as the shape the DuckDB
  oracle mirrors.

Postings carry ``doc_len`` denormalized: at 10^12 docs the doc table cannot be
broadcast, and carrying the 8-byte length beats re-joining a trillion-row
dimension at query time (the reference's O(1) DocTable array lookup,
hw3/DataLoader.cpp:307, has no distributed equivalent that cheap).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import SEPARATOR_CHARS, SEPARATOR_REGEX

_PY_SEP_RE = re.compile(SEPARATOR_REGEX)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("doc_len", T.LongType(), False),
    ]
)


def tokenize_text(text: str) -> list[str]:
    """Reference-faithful tokenization of one string (order + duplicates kept).

    Equivalent to the char-scan loop of hw2/DataLoader.cpp:27-70 for any text;
    used for query strings (hw3/DataLoader.cpp:432-458 splitQuery) and as the
    oracle tokenizer.
    """
    return [t for t in _PY_SEP_RE.split(text) if t]


def tokenize_text_literal(text: str) -> list[str]:
    """Literal reimplementation of the C++ byte-scan (for parity tests only)."""
    out: list[str] = []
    word: list[str] = []
    for ch in text:
        if ch not in SEPARATOR_CHARS:
            word.append(ch)
        else:
            if word:
                out.append("".join(word))
            word.clear()
    if word:
        out.append("".join(word))
    return out


def postings_from_documents(documents: DataFrame) -> DataFrame:
    """(doc_id, term, tf, doc_len): the default tokenize plan — per-doc
    ARRAY output across Arrow + JVM-side codegen'd explode (see module
    docstring; ~21% faster than the posting-rows variant, reproduced in
    interleaved A/B rounds)."""
    src = documents.select("doc_id", "content", "doc_len")
    arr_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.StringType()), False),
            T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
            T.StructField("doc_len", T.LongType(), False),
        ]
    )

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        for pdf in batches:
            if len(pdf) == 0:
                continue
            terms_col: list[list[str]] = []
            tfs_col: list[list[int]] = []
            for s in pdf["content"]:
                c = Counter(t for t in _PY_SEP_RE.split(s) if t)
                terms_col.append(list(c.keys()))
                tfs_col.append(list(c.values()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "terms": terms_col,
                    "tfs": tfs_col,
                    "doc_len": pdf["doc_len"],
                }
            )

    arr = src.mapInPandas(tok, schema=arr_schema)
    z = arr.select(
        "doc_id", "doc_len", F.explode(F.arrays_zip("terms", "tfs")).alias("z")
    )
    return z.select(
        "doc_id",
        F.col("z.terms").alias("term"),
        F.col("z.tfs").alias("tf"),
        "doc_len",
    )


def postings_sql_plan(documents: DataFrame) -> DataFrame:
    """Same result via pure Catalyst built-ins (JVM-side, codegen'd).

    One shuffle on (doc_id, term) with map-side partial aggregation; used as an
    independent correctness mirror of the UDF path and for DuckDB oracles.
    """
    return (
        documents.select(
            "doc_id",
            "doc_len",
            F.explode(F.split("content", SEPARATOR_REGEX)).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("tf"), F.first("doc_len").alias("doc_len"))
        .select("doc_id", "term", "tf", "doc_len")
    )
