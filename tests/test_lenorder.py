"""Document reordering (length-ordered docIDs).

Length-ordered ids (corpus.length_ordered_documents) are the standard
index-layout lever that makes per-bucket score bounds discriminative:
BM25's length norm ties score magnitude to doc_len, so once docIDs ascend
with length every (term, bucket) has a tight monotone tf_norm range and
the batch evaluator's running-θ skipping (wand.wand_topk_batch) fires.
Results must stay rank-identical (micro resolution) to the exhaustive
postings evaluator — reordering is a layout change, never a semantics
change.
"""

import pytest

from sparksearch.blocks import build_block_index
from sparksearch.constants import CONJUNCTIVE, DISJUNCTIVE
from sparksearch.corpus import length_ordered_documents, synthetic_corpus
from sparksearch.query import query_term_rows, query_terms_df, topk
from sparksearch.stats import collection_stats, lexicon
from sparksearch.tokenize import postings_from_documents
from sparksearch.wand import wand_topk_batch

QUERIES = [
    (1, "if return the", DISJUNCTIVE),   # all-hot: bounds vary by length bucket
    (2, "def else", DISJUNCTIVE),
    (3, "buffer size node", DISJUNCTIVE),
    (4, "for int", CONJUNCTIVE),
    (5, "uniq42tok if", DISJUNCTIVE),    # rare term fills θ fast
]


@pytest.fixture(scope="module")
def lctx(spark):
    corpus = synthetic_corpus(spark, 600, seed=7)
    docs = length_ordered_documents(corpus).cache()
    posts = postings_from_documents(docs).cache()
    st = collection_stats(docs)
    lex = lexicon(posts).cache()
    blocks = build_block_index(posts, st["avg_doc_len"], bucket_span=64).cache()
    blocks.count()
    return docs, posts, st, lex, blocks


def test_length_order_invariant(lctx):
    """doc_len must be non-decreasing in doc_id, ids dense from 0."""
    docs = lctx[0]
    rows = sorted(
        (r["doc_id"], r["doc_len"]) for r in docs.select("doc_id", "doc_len").collect()
    )
    assert [d for d, _ in rows] == list(range(len(rows)))
    lens = [l for _, l in rows]
    assert lens == sorted(lens)


def test_lenordered_batch_rank_identical_and_skips(spark, lctx, placements):
    """wand_topk_batch over the length-ordered index: micro-rank-identical
    to the exhaustive evaluator, and with one shard (one task walks every
    bucket in doc order) the running θ must actually skip dense
    (query, bucket) evaluations on this layout."""
    docs, posts, st, lex, blocks = lctx
    qt = query_terms_df(spark, QUERIES)

    full = topk(posts, lex, qt, st["n_docs"], st["avg_doc_len"], k=10_000).collect()
    by_q: dict[int, list] = {}
    for r in full:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    truth = []
    for qid, ds in by_q.items():
        ds.sort(key=lambda t: (-round(t[1] * 1e6), t[0]))
        truth += [(qid, rk, d, round(s * 1e6)) for rk, (d, s) in enumerate(ds[:10], 1)]

    for placement in placements():
        so: dict = {}
        got_rows = wand_topk_batch(
            blocks, lex, query_term_rows(QUERIES), st["n_docs"], st["avg_doc_len"], k=10,
            n_shards=1, micro_rank=True, stats_out=so,
        ).collect()
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"] * 1e6))
            for r in got_rows
        )
        assert got == sorted(truth), placement
        skipped = int(so["query_evals_skipped"].value)
        total = int(so["query_evals_total"].value)
        assert 0 < skipped < total, (placement, skipped, total)


def test_reorder_documents_equals_length_ordered(spark):
    """corpus.reorder_documents (the in-build fold — re-ids an existing
    canonical table) must assign EXACTLY the ids length_ordered_documents
    assigns when deriving from the raw corpus."""
    from sparksearch.corpus import documents_from_corpus, reorder_documents

    corpus = synthetic_corpus(spark, 300, seed=23)
    via_derive = length_ordered_documents(corpus)
    canonical = documents_from_corpus(corpus)  # (repo,path)-ordered ids
    via_reorder = reorder_documents(canonical)
    a = sorted(map(tuple, via_derive.collect()))
    b = sorted(map(tuple, via_reorder.collect()))
    assert a == b
