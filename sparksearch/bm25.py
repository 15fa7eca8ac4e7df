"""BM25 scoring expression — exact reference semantics.

hw3/DataLoader.cpp:302-314 (BM25_t_q):
    k1 = 1.2; b = 0.75
    K   = k1 * ((1 - b) + b * dl / avgdl)        # dl = CHAR length of doc
    idf = ln((N - df + 0.5) / (df + 0.5))        # NOT clamped: negative when
                                                 # df > N/2 (hot terms) — kept
    score = idf * (k1 + 1) * tf / (K + tf)

ONE floating-point association is pinned for the per-posting contribution of
a weighted query term, across EVERY evaluator in the engine (exhaustive
DataFrame scorer, the batch top-k kernel's scalar and matrix paths, pure-
Python oracle, DuckDB oracle SQL):

    tf_norm = ((k1 + 1) * tf) / (K + tf)         # query-independent factor
    contribution = (weight * idf) * tf_norm

This is the factorization the decode-once-score-many batch evaluator REQUIRES
(the per-posting factor must not depend on the query term's idf/weight), so
every other evaluator adopts it — doubles then match bit-for-bit per
contribution between the Spark plan, numpy kernels (codec.tf_norm), and the
pure-Python oracle.

idf is additionally pinned to ONE runtime: it is computed driver-side with
Python's ``math.log`` (:func:`bm25_idf_py`) once per (term, N) and shipped to
every evaluator as a plain double (a joined column in the Spark plans, a
broadcast scalar in the numpy kernels).  Transcendental functions are NOT
identically rounded across runtimes — JVM ``Math.log`` (``F.log``) can differ
from libm by 1 ulp on the same input, which flips exact score ties between
evaluators (the round-4 Hypothesis falsifying example).  +-*/ ARE correctly
rounded everywhere (IEEE 754), so once idf is a shared double the whole
contribution is bit-identical across JVM codegen and numpy.  Never reintroduce
``F.log`` (or a second ``math.log`` call site with different argument
arithmetic) for idf.

Multi-term SUM order is NOT pinned across evaluators (Spark aggregates in
partition order); the cross-evaluator rank contract therefore holds at micro
resolution (round(score * 1e6), doc_id asc) — see wand.py module docstring.
DuckDB's ``ln`` is also unpinned (its libm may differ by 1 ulp); oracle
comparisons are micro-rounded, so this cannot flip a checked rank.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from .constants import BM25_B, BM25_K1


def bm25_idf_py(df: int, n_docs: int) -> float:
    """THE idf definition: unclamped reference idf, evaluated with Python's
    libm ``math.log``.  Every evaluator must receive idf from here (module
    docstring: cross-runtime log rounding)."""
    return math.log((n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_norm(tf: Column, doc_len: Column, avg_doc_len: float) -> Column:
    """((k1+1)*tf) / (K+tf) — the query-independent factor; the Spark twin of
    codec.tf_norm (same op order, so index-time bound metadata and query-time
    scores agree bit-for-bit)."""
    K = BM25_K1 * ((1 - BM25_B) + BM25_B * doc_len.cast("double") / F.lit(avg_doc_len))
    return F.lit(BM25_K1 + 1) * tf.cast("double") / (K + tf.cast("double"))


def bm25_contribution(
    tf: Column, idf: Column, doc_len: Column, weight: Column, avg_doc_len: float
) -> Column:
    """The pinned per-posting contribution (weight * idf) * tf_norm as a
    native column expression.  ``idf`` must be the PRECOMPUTED
    :func:`bm25_idf_py` double joined into the plan — not an ``F.log``
    expression (module docstring)."""
    return (weight.cast("double") * idf.cast("double")) * bm25_tf_norm(
        tf, doc_len, avg_doc_len
    )


def bm25_contribution_py(
    tf: int, df: int, doc_len: int, weight: float, n_docs: int, avg_doc_len: float
) -> float:
    """Oracle-side scalar twin of :func:`bm25_contribution` (same op order,
    same idf definition)."""
    K = BM25_K1 * ((1 - BM25_B) + BM25_B * doc_len / avg_doc_len)
    tf_norm = (BM25_K1 + 1) * tf / (K + tf)
    return (weight * bm25_idf_py(df, n_docs)) * tf_norm


def bm25_contribution_sql(
    tf: str, df: str, doc_len: str, weight: str, n_docs: str | int, avg_doc_len: str | float
) -> str:
    """The pinned contribution as an ANSI-SQL fragment (DuckDB oracle).

    Parenthesized so DuckDB evaluates exactly (weight*idf) * (((k1+1)*tf)/(K+tf))
    — left-assoc `a * b / c` == `(a*b)/c` matches numpy/Python.  DuckDB's
    ``ln`` rounding is uncontrolled (module docstring); oracle results are
    compared micro-rounded."""
    k1, b = BM25_K1, BM25_B
    return (
        f"({weight} * ln(({n_docs} - {df} + 0.5) / ({df} + 0.5))) "
        f"* ({k1 + 1} * {tf} / ({k1} * ((1 - {b}) + {b} * {doc_len} / {avg_doc_len}) + {tf}))"
    )
