"""Resume semantics + lineage metrics for the resumable index build."""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparksearch.checkpoint import CheckpointManager, build_index  # noqa: E402
from sparksearch.corpus import (  # noqa: E402
    CORPUS_SCHEMA,
    documents_from_testdata,
    length_ordered_documents,
)
from sparksearch.tokenize import postings_from_documents  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


def _corpus(spark):
    """The testdata as a corpus table (repo, path, commit, lang, content)."""
    return documents_from_testdata(spark, SF_DIR).select(*CORPUS_SCHEMA.names)


def test_full_build_then_resume(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    corpus = _corpus(spark)

    out1 = build_index(spark, corpus, base)
    assert not any(r.resumed for r in out1.values())
    n_docs = out1["documents"].manifest["row_count"]
    assert n_docs == corpus.count()

    # the reference's three artifacts, and nothing else on disk
    assert set(out1) == {"documents", "blocks", "lexicon"}
    assert sorted(os.listdir(base)) == ["blocks", "documents", "lexicon"]

    # per-file lineage and observed stage metrics present and consistent
    dm, bm, lm = (out1[s].manifest for s in ("documents", "blocks", "lexicon"))
    n_postings = postings_from_documents(out1["documents"].df).count()
    assert bm["metrics"]["postings_emitted"] == lm["metrics"]["postings_emitted"] == n_postings
    assert bm["metrics"]["bytes_compressed"] > 0
    assert lm["metrics"]["terms"] == lm["row_count"]
    for m in (bm, lm):
        assert sum(f["rows"] for f in m["files"]) == m["row_count"]
        assert all(f["bytes"] > 0 for f in m["files"])
    assert bm["lineage"] == {"documents": dm["fingerprint"]}
    assert lm["lineage"] == {"blocks": bm["fingerprint"]}
    # the test session (session.get_spark) writes zstd pages
    meta = pq.read_metadata(sorted(glob.glob(f"{base}/blocks/data/*.parquet"))[0])
    assert {meta.row_group(0).column(c).compression for c in range(meta.num_columns)} == {"ZSTD"}

    # second driver run = resume: every stage skips and replays from disk,
    # reopened with the schema its manifest recorded
    out2 = build_index(spark, corpus, base)
    assert all(r.resumed for r in out2.values())
    assert out2["blocks"].df.count() == out1["blocks"].df.count()
    for stage, r in out2.items():
        assert r.df.schema == spark.read.parquet(r.path).schema, stage


def test_param_change_invalidates(spark, tmp_path):
    base = str(tmp_path / "ckpt2")
    corpus = _corpus(spark)
    build_index(spark, corpus, base)
    # changing a build param must rerun the dependent stages only
    out2 = build_index(spark, corpus, base, bucket_span=64)
    assert out2["documents"].resumed
    assert not out2["blocks"].resumed and not out2["lexicon"].resumed
    assert out2["blocks"].manifest["params"]["bucket_span"] == 64


def test_blocks_of_another_codec_format_rebuild(spark, tmp_path):
    """A blocks manifest written before the payload layout was recorded
    (params without ``codec_format``: raw doc lengths) is rebuilt, never
    reopened and decoded as delta-coded lengths."""
    from sparksearch.checkpoint import _fingerprint
    from sparksearch.codec import FORMAT

    base = str(tmp_path / "ckpt5")
    corpus = _corpus(spark)
    build_index(spark, corpus, base)
    mp = os.path.join(base, "blocks", "_MANIFEST.json")
    with open(mp) as f:
        m = json.load(f)
    # the manifest as the earlier build committed it
    del m["params"]["codec_format"]
    old_key = {"stage": "blocks", "lineage": m["lineage"], "params": m["params"]}
    m["lineage_key"] = _fingerprint(old_key)
    with open(mp, "w") as f:
        json.dump(m, f)

    out = build_index(spark, corpus, base)
    assert all(r.resumed for s, r in out.items() if s != "blocks")
    assert not out["blocks"].resumed
    assert out["blocks"].manifest["params"]["codec_format"] == FORMAT


def test_documents_without_word_nums_rebuild(spark, tmp_path):
    """A documents manifest committed before the stage carried the
    DocTable's ``word_nums`` (no ``columns`` param, no such column) is
    rebuilt with it, never reopened without it."""
    from sparksearch.checkpoint import _fingerprint

    base = str(tmp_path / "ckpt6")
    corpus = _corpus(spark)
    build_index(spark, corpus, base)
    mp = os.path.join(base, "documents", "_MANIFEST.json")
    with open(mp) as f:
        m = json.load(f)
    # the manifest as the earlier build committed it
    m["params"] = {}
    m["lineage_key"] = _fingerprint({"stage": "documents", "lineage": {}, "params": {}})
    m["schema"]["fields"] = [c for c in m["schema"]["fields"] if c["name"] != "word_nums"]
    with open(mp, "w") as f:
        json.dump(m, f)

    out = build_index(spark, corpus, base)
    assert not out["documents"].resumed
    assert "word_nums" in out["documents"].df.columns


def test_input_change_invalidates_root_and_downstream(spark, tmp_path):
    """The documents stage is rooted at the corpus: the same rows in another
    partitioning resume every stage, while different content rebuilds from
    the root — even when the row count happens to be unchanged (the
    data_hash in the manifest fingerprint invalidates downstream stages)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "ckpt4")
    corpus = _corpus(spark)
    out1 = build_index(spark, corpus, base)
    assert not any(r.resumed for r in out1.values())

    out2 = build_index(spark, corpus.repartition(3), base)
    assert all(r.resumed for r in out2.values())

    # same row count, different content
    changed = corpus.withColumn("content", F.concat(F.col("content"), F.lit(" changed")))
    out3 = build_index(spark, changed, base)
    assert not any(r.resumed for r in out3.values())
    assert out3["documents"].manifest["row_count"] == out1["documents"].manifest["row_count"]
    assert out3["documents"].manifest["data_hash"] != out1["documents"].manifest["data_hash"]


def test_partial_crash_resume(spark, tmp_path, monkeypatch):
    """Simulate a crash between stages: only stages with committed
    manifests resume; the rest rebuild."""
    import sparksearch.blocks as blocks_mod

    base = str(tmp_path / "ckpt3")
    corpus = _corpus(spark)

    def killed(*a, **kw):
        raise RuntimeError("driver killed")

    # "crash" after the documents stage committed — blocks never ran
    monkeypatch.setattr(blocks_mod, "build_block_index", killed)
    with pytest.raises(RuntimeError, match="driver killed"):
        build_index(spark, corpus, base)
    assert not os.path.exists(os.path.join(base, "blocks", "_MANIFEST.json"))
    monkeypatch.undo()
    # new driver:
    out = build_index(spark, corpus, base)
    assert out["documents"].resumed
    assert not out["blocks"].resumed and not out["lexicon"].resumed

    # corrupt-manifest safety: a half-written manifest is never committed
    mp = os.path.join(base, "blocks", "_MANIFEST.json")
    with open(mp) as f:
        m = json.load(f)
    assert m["fingerprint"]


def test_fingerprint_even_multiplicity(spark, tmp_path):
    """XOR alone cancels when an identical-row pair is swapped for another
    pair (count unchanged) — the additive component must still distinguish
    the contents (ADVICE r2), both in ``dataframe_fingerprint`` and in the
    manifest fingerprint ``run_stage`` commits."""
    from sparksearch.checkpoint import dataframe_fingerprint

    a = spark.createDataFrame([("x",), ("x",)], "v string")
    b = spark.createDataFrame([("y",), ("y",)], "v string")
    fa, fb = dataframe_fingerprint(a), dataframe_fingerprint(b)
    assert fa != fb
    # same count and XOR (both pairs cancel to 0) -> only the sum differs
    assert fa.split(":")[0] == fb.split(":")[0] == "2"
    assert fa.split(":")[1] == fb.split(":")[1] == "0"

    ma = CheckpointManager(spark, str(tmp_path / "a")).run_stage("pairs", lambda: a).manifest
    mb = CheckpointManager(spark, str(tmp_path / "b")).run_stage("pairs", lambda: b).manifest
    assert ma["fingerprint"] != mb["fingerprint"]
    assert (ma["data_hash"], mb["data_hash"]) == (fa, fb)


def test_checkpointed_build_evaluates_once(spark, tmp_path, monkeypatch):
    """On sf0.001 a fresh ``build_index`` launches at most 9 Spark jobs:
    the id pass's 3 eager jobs, then each of the three stages' plans runs
    once (its shuffle's map stage, then its write), its manifest comes from
    the write's observed metrics and it is reopened with its recorded
    schema (no inference job).  A full resume launches no more
    jobs than one ``dataframe_fingerprint(corpus)`` and runs no id pass."""
    import sparksearch.corpus as corpus_mod
    from sparksearch.checkpoint import dataframe_fingerprint
    from sparksearch.stats import collection_stats

    id_passes = []
    assign_dense_ids = corpus_mod.assign_dense_ids
    monkeypatch.setattr(
        corpus_mod,
        "assign_dense_ids",
        lambda *a, **kw: id_passes.append(1) or assign_dense_ids(*a, **kw),
    )
    sc = spark.sparkContext
    corpus = _corpus(spark)

    def n_jobs(group, fn):
        group = f"{group}-{tmp_path.name}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    out = {}
    base = str(tmp_path / "ckpt")
    fresh = n_jobs("fresh", lambda: out.update(build_index(spark, corpus, base)))
    assert not any(r.resumed for r in out.values())
    assert fresh <= 9 and len(id_passes) == 1

    resume = n_jobs("resume", lambda: out.update(build_index(spark, corpus, base)))
    assert all(r.resumed for r in out.values())
    assert len(id_passes) == 1
    assert resume <= n_jobs("fingerprint", lambda: dataframe_fingerprint(corpus))
    docs = out["documents"].df
    assert out["blocks"].manifest["params"]["avg_doc_len"] == collection_stats(docs)["avg_doc_len"]


def test_build_index_layout_equals_layer_functions(spark, tmp_path):
    """``build_index`` spells the length-ordered layout the layer functions
    give: the same documents (hence doc ids, which the DuckDB lenordered
    oracles depend on), the same blocks, ``stats.doc_table``'s
    ``word_nums`` and ``stats.lexicon``'s df."""
    from sparksearch.blocks import build_block_index
    from sparksearch.stats import collection_stats, doc_table, lexicon

    corpus = _corpus(spark)
    out = build_index(spark, corpus, str(tmp_path / "ckpt"))
    got_docs = out["documents"].df
    docs = length_ordered_documents(corpus).cache()
    postings = postings_from_documents(docs)
    avg_doc_len = collection_stats(docs)["avg_doc_len"]
    blocks = build_block_index(postings, avg_doc_len, 2048)
    for got, want in (
        (got_docs.drop("word_nums"), docs),
        (out["blocks"].df, blocks),
        (got_docs.select("doc_id", "word_nums"), doc_table(docs, postings).select("doc_id", "word_nums")),
        (out["lexicon"].df.select("term", "df"), lexicon(postings).select("term", "df")),
    ):
        assert got.dtypes == want.dtypes
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    docs.unpersist()
