"""scripts/sparksearch_job.py end to end, in-process: a corpus parquet
table (repo, path, commit, lang, content) builds a resumable, zstd-written
index, a rerun resumes every stage, and the query subcommand prints the
exhaustive scorer's ranking over the index's documents in 2 Spark jobs."""

import glob
import importlib.util
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

from sparksearch.constants import DISJUNCTIVE
from sparksearch.corpus import synthetic_corpus
from sparksearch.query import query_terms_df, topk
from sparksearch.stats import collection_stats
from sparksearch.tokenize import postings_from_documents

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "sparksearch_job.py",
)


def _load_job():
    spec = importlib.util.spec_from_file_location("sparksearch_job", SCRIPT)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def _run(job, monkeypatch, capsys, *argv) -> str:
    monkeypatch.setattr(sys, "argv", ["sparksearch_job.py", *argv])
    job.main()
    return capsys.readouterr().out


def test_job_build_resume_query(spark, tmp_path, monkeypatch, capsys):
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")
    synthetic_corpus(spark, 300, seed=5).write.parquet(corpus)
    job = _load_job()
    build = ["build", "--input", corpus, "--output", index, "--bucket-span", "64"]

    # the script's own session writes zstd whatever codec it finds set
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    first = json.loads(_run(job, monkeypatch, capsys, *build))
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
    meta = pq.read_metadata(sorted(glob.glob(f"{index}/blocks/data/*.parquet"))[0])
    assert {meta.row_group(0).column(c).compression for c in range(meta.num_columns)} == {"ZSTD"}
    assert first["documents"]["rows"] == 300
    assert not any(s["resumed"] for s in first.values()), first
    second = json.loads(_run(job, monkeypatch, capsys, *build))
    assert set(second) == set(first)
    assert all(s["resumed"] for s in second.values()), second

    # two distinct terms: the kernel and the exhaustive scorer add the same
    # two contributions, so their rankings agree exactly
    text = "buffer node"
    # every stage reopened with its manifest's schema: no inference job
    sc, group = spark.sparkContext, f"job-query-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        out = _run(job, monkeypatch, capsys, "query", "--index", index, "--query", text)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # lexicon, documents lookup: the driver placement reads the blocks
    # stage's parquet files itself
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    got = []
    for line in out.splitlines():
        rank, score, doc_id, _ = line.split(None, 3)
        got.append((int(rank), int(doc_id), round(float(score) * 1e6)))

    docs = spark.read.parquet(f"{index}/documents/data")
    posts = postings_from_documents(docs)
    lex = spark.read.parquet(f"{index}/lexicon/data").select("term", "df")
    st = collection_stats(docs)
    qt = query_terms_df(spark, [(0, text, DISJUNCTIVE)])
    want = sorted(
        (r["rank"], r["doc_id"], round(r["score"] * 1e6))
        for r in topk(posts, lex, qt, st["n_docs"], st["avg_doc_len"]).collect()
    )
    assert len(want) == 20
    assert got == want

    # an index whose blocks manifest records no codec format holds raw doc
    # lengths: query refuses it instead of scoring with misread lengths
    mp = f"{index}/blocks/_MANIFEST.json"
    with open(mp) as f:
        m = json.load(f)
    del m["params"]["codec_format"]
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="codec format 1"):
        _run(job, monkeypatch, capsys, "query", "--index", index, "--query", text)
