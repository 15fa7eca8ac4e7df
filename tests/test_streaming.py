"""Incremental (Structured Streaming) index == batch index, end to end.

Corpus parquet files land in a directory in three chunks; the streaming
indexer drains them with availableNow; queries over the incremental index
must be rank-identical to a batch build over the same docs with the same
pinned avgdl.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparksearch.blocks import build_block_index  # noqa: E402
from sparksearch.corpus import synthetic_corpus  # noqa: E402
from sparksearch.query import query_term_rows  # noqa: E402
from sparksearch.stats import lexicon  # noqa: E402
from sparksearch.streaming import read_index, run_incremental_index  # noqa: E402
from sparksearch.tokenize import postings_from_documents  # noqa: E402
from sparksearch.wand import wand_topk_batch  # noqa: E402

QUERIES = [
    (1, "if return buffer", "disjunctive"),
    (2, "def value index", "conjunctive"),
    (3, "uniq5tok", "disjunctive"),
]


def test_streamed_index_equals_batch(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    index_dir = str(tmp_path / "index")
    os.makedirs(inbox)

    corpus = synthetic_corpus(spark, 300, seed=3).cache()
    # three arrival chunks, disjoint, deterministic order by repo/path
    chunks = [
        corpus.filter(F.crc32(F.concat_ws("/", "repo", "path")) % 3 == i) for i in range(3)
    ]
    for i, ch in enumerate(chunks):
        ch.coalesce(1).write.parquet(f"{inbox}/chunk{i}")
    # move chunk files into one flat stream dir
    import glob
    import shutil

    flat = str(tmp_path / "stream_in")
    os.makedirs(flat)
    for i in range(3):
        for j, f in enumerate(sorted(glob.glob(f"{inbox}/chunk{i}/*.parquet"))):
            shutil.copy(f, f"{flat}/part_{i}_{j}.parquet")

    run_incremental_index(
        spark, flat, index_dir, bucket_span=64, available_now=True, max_files_per_trigger=1
    )

    docs, blocks, lex, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == 300
    # doc ids are unique; batch offsets are bucket-aligned so batches never
    # share a (term, bucket) — ids may GAP at batch boundaries by design
    agg = docs.agg(
        F.count("*").alias("c"), F.countDistinct("doc_id").alias("d"),
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"),
    ).collect()[0]
    assert agg["c"] == agg["d"] == 300 and agg["mn"] == 0 and agg["mx"] >= 299
    from sparksearch.streaming import _load_state

    state = _load_state(index_dir)
    assert len(state["batches"]) >= 2  # the test must exercise multi-batch
    for b in state["batches"]:
        assert b["offset"] % 64 == 0

    # batch twin over the SAME doc-id assignment + pinned avgdl; the top-k
    # kernel must agree on both (over the stream index it also checks that
    # no two batches share a (term, bucket) — the kernel rejects one that
    # does, the overlap the bucket alignment rules out)
    posts = postings_from_documents(docs)
    batch_blocks = build_block_index(posts, stats["avg_doc_len"], bucket_span=64)
    batch_lex = lexicon(posts).select("term", "df")

    qt = query_term_rows(QUERIES)
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
    want = wand_topk_batch(
        batch_blocks, batch_lex, qt, stats["n_docs"], stats["avg_doc_len"]
    ).collect()
    got = wand_topk_batch(blocks, lex, qt, stats["n_docs"], stats["avg_doc_len"]).collect()
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 0


def test_stream_resume_no_double_count(spark, tmp_path):
    """Re-running the drained stream must not re-index anything."""
    flat = str(tmp_path / "in2")
    index_dir = str(tmp_path / "idx2")
    os.makedirs(flat)
    synthetic_corpus(spark, 50, seed=9).coalesce(1).write.parquet(f"{flat}/c0")
    import glob
    import shutil

    for j, f in enumerate(sorted(glob.glob(f"{flat}/c0/*.parquet"))):
        shutil.move(f, f"{flat}/f{j}.parquet")
    shutil.rmtree(f"{flat}/c0")

    run_incremental_index(spark, flat, index_dir, available_now=True)
    _, _, _, s1 = read_index(spark, index_dir)
    run_incremental_index(spark, flat, index_dir, available_now=True)
    _, _, _, s2 = read_index(spark, index_dir)
    assert s1["n_docs"] == s2["n_docs"] == 50


def test_exactly_once_commit_protocol(spark, tmp_path):
    """foreachBatch redelivery crash windows: (a) redelivery after commit
    but BEFORE the state save must repair state without re-appending;
    (b) redelivery after a half-commit (docs renamed, blocks missing) must
    discard the partial batch and land it exactly once."""
    import json
    import shutil

    from sparksearch.streaming import _load_state, _read_parts, ingest_batch, read_index

    index_dir = str(tmp_path / "idx_eo")
    os.makedirs(index_dir)
    corpus = synthetic_corpus(spark, 60, seed=21).cache()
    b0 = corpus.limit(30)
    ingest_batch(b0, 0, index_dir, bucket_span=64)

    # (a) crash between commit and state save: roll the state back by hand,
    # then redeliver the same batch id
    state_path = f"{index_dir}/_STREAM_STATE.json"
    state = _load_state(index_dir)
    committed = dict(state)
    committed["batches"] = []
    committed["next_doc_id"] = 0
    with open(state_path, "w") as f:
        json.dump(committed, f)
    ingest_batch(b0, 0, index_dir, bucket_span=64)  # redelivery -> repair
    repaired = _load_state(index_dir)
    assert [b["batch_id"] for b in repaired["batches"]] == [0]
    assert repaired["next_doc_id"] == state["next_doc_id"]
    docs, _, _, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == 30  # no duplicate append

    # (b) half-commit: docs dir renamed, blocks dir missing
    b1 = corpus.subtract(b0)
    docs_dir = f"{index_dir}/documents/batch_1"
    os.makedirs(docs_dir)
    with open(f"{docs_dir}/_meta.json", "w") as f:
        json.dump({"offset": 999, "n_docs": 999, "batch_id": 1}, f)
    ingest_batch(b1, 1, index_dir, bucket_span=64)
    docs, _, _, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == 60
    st = _load_state(index_dir)
    assert sorted(b["batch_id"] for b in st["batches"]) == [0, 1]
    # both batches' blocks present, offsets aligned and disjoint
    assert st["batches"][1]["offset"] % 64 == 0
    assert st["batches"][1]["offset"] >= st["batches"][0]["offset"] + st["batches"][0]["n_docs"]
    assert _read_parts(spark, f"{index_dir}/blocks").count() > 0
    shutil.rmtree(index_dir)


def test_codec_format_recorded_and_checked(spark, tmp_path):
    """The stream state and each batch's _meta.json record the payload
    layout; an index written before it was recorded (raw doc lengths) is
    refused by ingest, compaction, read_index and the commit repair, so
    blocks of two layouts never mix."""
    import json

    import pytest

    from sparksearch.codec import FORMAT
    from sparksearch.streaming import _load_state, compact_index, ingest_batch

    index_dir = str(tmp_path / "idx_fmt")
    corpus = synthetic_corpus(spark, 40, seed=17).cache()
    b0, b1 = corpus.limit(20), corpus.subtract(corpus.limit(20))
    ingest_batch(b0, 0, index_dir, bucket_span=64)
    state = _load_state(index_dir)
    assert state["codec_format"] == FORMAT
    meta_path = f"{index_dir}/documents/batch_0/_meta.json"
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["codec_format"] == FORMAT

    # the stream state as an earlier ingest left it
    legacy = {k: v for k, v in state.items() if k != "codec_format"}
    with open(f"{index_dir}/_STREAM_STATE.json", "w") as f:
        json.dump(legacy, f)
    for call in (
        lambda: ingest_batch(b1, 1, index_dir, bucket_span=64),
        lambda: compact_index(spark, index_dir, bucket_span=64),
        lambda: read_index(spark, index_dir),
    ):
        with pytest.raises(ValueError, match="codec format 1"):
            call()
    assert not os.path.exists(f"{index_dir}/blocks/batch_1")

    # commit repair from a batch whose _meta.json records no layout
    with open(f"{index_dir}/_STREAM_STATE.json", "w") as f:
        json.dump({**state, "batches": [], "next_doc_id": 0}, f)
    del meta["codec_format"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="codec format 1"):
        ingest_batch(b0, 0, index_dir, bucket_span=64)


def test_compaction_preserves_results(spark, tmp_path):
    """Compaction (uniform re-bucketing + avgdl re-pin) must answer queries
    identically to a from-scratch batch build over the same docs with the
    same (re-pinned) avgdl."""
    import glob
    import shutil

    flat = str(tmp_path / "in3")
    index_dir = str(tmp_path / "idx3")
    os.makedirs(flat)
    synthetic_corpus(spark, 200, seed=13).coalesce(2).write.parquet(f"{flat}/c0")
    for j, f in enumerate(sorted(glob.glob(f"{flat}/c0/*.parquet"))):
        shutil.move(f, f"{flat}/f{j}.parquet")
    shutil.rmtree(f"{flat}/c0")

    run_incremental_index(spark, flat, index_dir, bucket_span=32, available_now=True)
    from sparksearch.streaming import compact_index

    from sparksearch.streaming import _read_parts

    pre_blocks = _read_parts(spark, f"{index_dir}/blocks").count()
    info = compact_index(spark, index_dir, bucket_span=128)
    assert info["n_blocks"] <= pre_blocks

    docs, blocks, lex, stats = read_index(spark, index_dir)
    assert stats["avg_doc_len"] == info["avg_doc_len"]

    posts = postings_from_documents(docs)
    batch_blocks = build_block_index(posts, stats["avg_doc_len"], bucket_span=128)
    batch_lex = lexicon(posts).select("term", "df")
    qt = query_term_rows(QUERIES)
    got = wand_topk_batch(blocks, lex, qt, stats["n_docs"], stats["avg_doc_len"]).collect()
    want = wand_topk_batch(
        batch_blocks, batch_lex, qt, stats["n_docs"], stats["avg_doc_len"]
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
