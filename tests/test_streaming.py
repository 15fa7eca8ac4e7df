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

    run_incremental_index(spark, flat, index_dir, bucket_span=64, max_files_per_trigger=1)

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

    run_incremental_index(spark, flat, index_dir)
    _, _, _, s1 = read_index(spark, index_dir)
    run_incremental_index(spark, flat, index_dir)
    _, _, _, s2 = read_index(spark, index_dir)
    assert s1["n_docs"] == s2["n_docs"] == 50


def test_exactly_once_commit_protocol(spark, tmp_path):
    """foreachBatch redelivery crash windows: (a) redelivery after the
    batch's stages committed but BEFORE the state save records it once,
    at the same offset; (b) redelivery after a stage write was killed
    before its manifest committed rebuilds that stage and lands the batch
    exactly once."""
    import json
    import shutil

    from sparksearch.streaming import _load_state, ingest_batch, read_index

    index_dir = str(tmp_path / "idx_eo")
    os.makedirs(index_dir)
    corpus = synthetic_corpus(spark, 60, seed=21).cache()
    b0 = corpus.limit(30)
    ingest_batch(b0, 0, index_dir, bucket_span=64)

    # (a) crash between the stage commits and the state save: roll the
    # state back by hand, then redeliver the same batch id
    state_path = f"{index_dir}/_STREAM_STATE.json"
    state = _load_state(index_dir)
    with open(state_path, "w") as f:
        json.dump(
            {**state, "batches": [], "blocks": [], "next_doc_id": 0, "avg_doc_len": None}, f
        )
    ingest_batch(b0, 0, index_dir, bucket_span=64)
    assert _load_state(index_dir) == state
    docs, _, _, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == 30 == docs.count()  # no duplicate append

    # (b) a documents write killed before its manifest: a partial data
    # directory, no _MANIFEST.json
    b1 = corpus.subtract(b0)
    os.makedirs(f"{index_dir}/batch_1/documents/data")
    with open(f"{index_dir}/batch_1/documents/data/part-00000.parquet", "wb") as f:
        f.write(b"not parquet")
    ingest_batch(b1, 1, index_dir, bucket_span=64)
    docs, blocks, _, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == 60 == docs.count()
    st = _load_state(index_dir)
    assert sorted(b["batch_id"] for b in st["batches"]) == [0, 1]
    # both batches' blocks present, offsets aligned and disjoint
    assert st["batches"][1]["offset"] % 64 == 0
    assert st["batches"][1]["offset"] >= st["batches"][0]["offset"] + st["batches"][0]["n_docs"]
    assert st["blocks"] == ["batch_0/blocks", "batch_1/blocks"] and blocks.count() > 0
    shutil.rmtree(index_dir)


def test_unrecorded_batch_invisible_then_resumed(spark, tmp_path):
    """Stages committed under ``batch_<id>`` whose state save never ran are
    not read by ``read_index``; the batch's redelivery resumes both stages
    (one snapshot each) instead of rebuilding them, and records it."""
    import json

    from sparksearch.checkpoint import CheckpointManager
    from sparksearch.streaming import _load_state, ingest_batch, read_index

    index_dir = str(tmp_path / "idx_unrec")
    corpus = synthetic_corpus(spark, 80, seed=5).cache()
    b0, b1 = (corpus.filter(F.crc32("path") % 2 == b) for b in range(2))
    ingest_batch(b0, 0, index_dir, bucket_span=64)
    before = _load_state(index_dir)
    ingest_batch(b1, 1, index_dir, bucket_span=64)
    after = _load_state(index_dir)
    with open(f"{index_dir}/_STREAM_STATE.json", "w") as f:
        json.dump(before, f)

    docs, blocks, lex, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == before["batches"][0]["n_docs"] == docs.count()
    assert not any("batch_1" in f for f in docs.inputFiles() + blocks.inputFiles())

    ingest_batch(b1, 1, index_dir, bucket_span=64)
    assert _load_state(index_dir) == after
    cp = CheckpointManager(spark, f"{index_dir}/batch_1")
    for stage in ("documents", "blocks"):
        assert len(cp.load_manifest(stage)["snapshots"]) == 1, stage
    _, _, _, stats = read_index(spark, index_dir)
    assert stats["n_docs"] == 80


def test_streamed_ids_length_ordered(spark, tmp_path):
    """Each micro-batch numbers its docs as the build does
    (``length_ordered_documents``): within a batch, ``doc_len`` does not
    decrease as ``doc_id`` rises."""
    from sparksearch.streaming import _load_state, ingest_batch, read_index

    index_dir = str(tmp_path / "idx_len")
    corpus = synthetic_corpus(spark, 200, seed=3).cache()
    for b in range(3):
        part = corpus.filter(F.crc32(F.concat_ws("/", "repo", "path")) % 3 == b)
        ingest_batch(part, b, index_dir, bucket_span=64)
    docs = read_index(spark, index_dir)[0].select("doc_id", "doc_len").collect()
    by_id = dict(map(tuple, docs))
    batches = _load_state(index_dir)["batches"]
    assert len(batches) == 3 and sum(b["n_docs"] for b in batches) == len(by_id) == 200
    for b in batches:
        lens = [by_id[i] for i in range(b["offset"], b["offset"] + b["n_docs"])]
        assert lens == sorted(lens), b["batch_id"]


def test_ingest_and_read_job_counts(spark, tmp_path):
    """One ``ingest_batch`` runs at most 8 Spark jobs (the empty check, the
    id pass's 3 eager jobs, then each stage's shuffle and write), its
    redelivery after the state recorded it none, and ``read_index`` none:
    N and avgdl come from the state and each table is read under its
    manifest's schema."""
    from sparksearch.streaming import ingest_batch, read_index

    sc = spark.sparkContext
    index_dir = str(tmp_path / "idx_jobs")
    corpus = synthetic_corpus(spark, 600, seed=3).cache()
    corpus.count()

    def n_jobs(group, fn):
        group = f"{group}-{tmp_path.name}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for b in range(2):
        part = corpus.filter(F.crc32(F.concat_ws("/", "repo", "path")) % 2 == b)
        assert n_jobs(f"ingest{b}", lambda: ingest_batch(part, b, index_dir)) <= 8
        assert n_jobs(f"replay{b}", lambda: ingest_batch(part, b, index_dir)) == 0
    assert n_jobs("read", lambda: read_index(spark, index_dir)) == 0


def test_parent_layout_refused(spark, tmp_path):
    """An index in the per-batch ``_meta.json`` layout (a state that lists
    no stage directories) is refused by ingest, compaction and
    ``read_index``, never read as an empty or partial index."""
    import json

    import pytest

    from sparksearch.codec import FORMAT
    from sparksearch.streaming import compact_index, ingest_batch, read_index

    index_dir = tmp_path / "idx_old"
    index_dir.mkdir()
    (index_dir / "_STREAM_STATE.json").write_text(json.dumps({
        "next_doc_id": 20, "codec_format": FORMAT, "avg_doc_len_hint": 100.0,
        "batches": [{"batch_id": 0, "n_docs": 20, "offset": 0}],
    }))
    batch = synthetic_corpus(spark, 20, seed=17)
    for call in (
        lambda: ingest_batch(batch, 1, str(index_dir), bucket_span=64),
        lambda: compact_index(spark, str(index_dir), bucket_span=64),
        lambda: read_index(spark, str(index_dir)),
    ):
        with pytest.raises(ValueError, match="older layout.*rebuild the index"):
            call()
    assert sorted(os.listdir(index_dir)) == ["_STREAM_STATE.json"]


def test_codec_format_recorded_and_checked(spark, tmp_path):
    """The stream state and each batch's blocks manifest record the payload
    layout; an index written before it was recorded (raw doc lengths) is
    refused by ingest, compaction and read_index, so blocks of two layouts
    never mix."""
    import json

    import pytest

    from sparksearch.checkpoint import CheckpointManager
    from sparksearch.codec import FORMAT
    from sparksearch.streaming import _load_state, compact_index, ingest_batch

    index_dir = str(tmp_path / "idx_fmt")
    corpus = synthetic_corpus(spark, 40, seed=17).cache()
    b0, b1 = corpus.limit(20), corpus.subtract(corpus.limit(20))
    ingest_batch(b0, 0, index_dir, bucket_span=64)
    state = _load_state(index_dir)
    assert state["codec_format"] == FORMAT
    blocks = CheckpointManager(spark, f"{index_dir}/batch_0").load_manifest("blocks")
    assert blocks["params"]["codec_format"] == FORMAT

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
    assert not os.path.exists(f"{index_dir}/batch_1")


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

    run_incremental_index(spark, flat, index_dir, bucket_span=32)
    from sparksearch.streaming import compact_index

    pre_blocks = read_index(spark, index_dir)[1].count()
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
