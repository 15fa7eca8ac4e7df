"""Resume semantics + lineage metrics for the checkpointed index build."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparksearch.checkpoint import CheckpointManager, build_index_checkpointed  # noqa: E402
from sparksearch.corpus import documents_from_testdata  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


def test_full_build_then_resume(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    docs = documents_from_testdata(spark, SF_DIR)

    out1 = build_index_checkpointed(spark, docs, base)
    assert not any(r.resumed for r in out1.values())
    n_docs = out1["documents"].manifest["row_count"]
    assert n_docs == docs.count()

    # per-file lineage and observed stage metrics present and consistent
    pm = out1["postings"].manifest
    assert pm["metrics"]["postings_emitted"] == pm["row_count"]
    assert sum(f["rows"] for f in pm["files"]) == pm["row_count"]
    assert all(f["bytes"] > 0 for f in pm["files"])
    bm = out1["blocks"].manifest
    assert bm["metrics"]["postings_emitted"] == pm["row_count"]
    assert bm["metrics"]["bytes_compressed"] > 0
    assert sum(f["rows"] for f in bm["files"]) == bm["row_count"]
    assert bm["lineage"]["postings"] == pm["fingerprint"]

    # second driver run = resume: every stage skips and replays from disk
    out2 = build_index_checkpointed(spark, docs, base)
    assert all(r.resumed for r in out2.values())
    assert out2["blocks"].df.count() == out1["blocks"].df.count()


def test_param_change_invalidates(spark, tmp_path):
    base = str(tmp_path / "ckpt2")
    docs = documents_from_testdata(spark, SF_DIR)
    out1 = build_index_checkpointed(spark, docs, base)
    # changing a build param must rerun the dependent stage only
    out2 = build_index_checkpointed(spark, docs, base, bucket_span=64)
    assert out2["postings"].resumed
    assert not out2["blocks"].resumed
    assert out2["blocks"].manifest["params"]["bucket_span"] == 64


def test_input_change_invalidates_root_and_downstream(spark, tmp_path):
    """Rerunning with DIFFERENT input data must rebuild from the root —
    even when the row count happens to be unchanged (the data_hash in the
    manifest fingerprint invalidates downstream stages)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "ckpt4")
    docs = documents_from_testdata(spark, SF_DIR)
    out1 = build_index_checkpointed(spark, docs, base)
    assert not any(r.resumed for r in out1.values())

    # same row count, different content
    docs2 = docs.withColumn(
        "content", F.concat(F.col("content"), F.lit(" changed"))
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256)).withColumn(
        "doc_len", F.length("content").cast("long")
    )
    out2 = build_index_checkpointed(spark, docs2, base)
    assert not out2["documents"].resumed  # root input fingerprint changed
    assert not out2["postings"].resumed   # data_hash chain invalidated
    assert not out2["blocks"].resumed
    assert out2["documents"].manifest["row_count"] == out1["documents"].manifest["row_count"]
    assert out2["documents"].manifest["data_hash"] != out1["documents"].manifest["data_hash"]


def test_partial_crash_resume(spark, tmp_path):
    """Simulate a crash between stages: only stages with committed
    manifests resume; the rest rebuild."""
    base = str(tmp_path / "ckpt3")
    docs = documents_from_testdata(spark, SF_DIR)
    cp = CheckpointManager(spark, base)
    cp.run_stage(
        "documents",
        lambda: docs,
        metric_cols={"docs_indexed": "count(*)", "chars": "sum(doc_len)"},
    )
    # "crash" here — postings never ran.  New driver:
    out = build_index_checkpointed(spark, docs, base)
    assert out["documents"].resumed
    assert not out["postings"].resumed

    # corrupt-manifest safety: a half-written manifest is never committed
    mp = os.path.join(base, "postings", "_MANIFEST.json")
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


def test_checkpointed_build_evaluates_once(spark, tmp_path):
    """A fresh checkpointed build launches no more Spark jobs than writing
    the same five stages plainly plus one ``collection_stats``: each stage's
    plan runs once, its manifest comes from the write's observed metrics,
    and the blocks' avgdl is the documents stage's observed one."""
    from sparksearch.blocks import build_block_index
    from sparksearch.stats import collection_stats, doc_table, lexicon
    from sparksearch.tokenize import postings_from_documents

    sc = spark.sparkContext
    docs = documents_from_testdata(spark, SF_DIR)

    def n_jobs(group, fn):
        group = f"{group}-{tmp_path.name}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def write(name, df):
        path = str(tmp_path / "plain" / name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    def plain():
        d = write("documents", docs)
        p = write("postings", postings_from_documents(d))
        st = collection_stats(d)
        write("doc_table", doc_table(d, p))
        write("lexicon", lexicon(p))
        write("blocks", build_block_index(p, st["avg_doc_len"]))

    out = {}
    base = str(tmp_path / "ckpt")
    checkpointed = n_jobs("ckpt", lambda: out.update(build_index_checkpointed(spark, docs, base)))
    assert not any(r.resumed for r in out.values())
    assert checkpointed <= n_jobs("plain", plain)
    assert out["blocks"].manifest["params"]["avg_doc_len"] == collection_stats(docs)["avg_doc_len"]
