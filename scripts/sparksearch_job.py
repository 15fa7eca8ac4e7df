#!/usr/bin/env python
"""spark-submit entry point for the sparksearch engine (north_rule: "runs
via spark-submit --py-files on multi-executor clusters").

Ship the library alongside this script (from the repository root):

    zip -qr sparksearch.zip sparksearch
    spark-submit --py-files sparksearch.zip scripts/sparksearch_job.py \
        build --input synthetic:20000 --output ss_index
    spark-submit --py-files sparksearch.zip scripts/sparksearch_job.py \
        query --index ss_index --query "hash join merge" --mode disjunctive

On a cluster, drop the ``--master`` default (inherits the cluster manager)
and point --input at the parquet corpus table (repo, path, commit, lang,
content).  ``build`` runs ``checkpoint.build_index``, which gives every
input length-ordered ids (``corpus.length_ordered_documents``); a driver
testdata directory is read as its corpus columns, so its own ids are not
kept.  The build is resumable: rerunning the same command against the same
--output resumes from committed stage manifests without an id pass.

Subcommands:
  build   corpus -> documents/blocks/lexicon snapshots
  query   top-k over a built index (the batch kernel over the compressed blocks)
  bench   timed build+query with docs/sec + q/s (JSON line)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    # under spark-submit the session is preconfigured; only fill gaps.
    from pyspark.sql import SparkSession

    from sparksearch.session import ENGINE_CONF

    b = SparkSession.builder.appName("sparksearch-job")
    if args.local_cores:
        b = b.master(f"local[{args.local_cores}]").config(
            "spark.sql.shuffle.partitions", str(args.local_cores * 2)
        )
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _load_corpus(spark, spec: str):
    """The corpus table (repo, path, commit, lang, content) --input names."""
    from sparksearch.corpus import CORPUS_SCHEMA, documents_from_testdata, synthetic_corpus

    if spec.startswith("synthetic:"):
        return synthetic_corpus(spark, int(spec.split(":", 1)[1]), seed=42)
    if spec.endswith("documents.parquet") or "testdata" in spec:
        sf_dir = spec.rstrip("/").removesuffix("/documents.parquet")
        return documents_from_testdata(spark, sf_dir).select(*CORPUS_SCHEMA.names)
    return spark.read.schema(CORPUS_SCHEMA).parquet(spec)


def cmd_build(args) -> dict:
    from sparksearch.checkpoint import build_index

    spark = _spark(args)
    out = build_index(spark, _load_corpus(spark, args.input), args.output, args.bucket_span)
    summary = {
        s: {
            "rows": r.manifest["row_count"],
            "resumed": r.resumed,
            "wall_sec": r.manifest.get("wall_sec"),
        }
        for s, r in out.items()
    }
    print(json.dumps(summary, indent=1))
    return summary


def cmd_query(args) -> None:
    from sparksearch.checkpoint import CheckpointManager
    from sparksearch.codec import check_format
    from sparksearch.constants import TOP_K
    from sparksearch.query import query_term_rows
    from sparksearch.wand import wand_topk_batch

    spark = _spark(args)
    from pyspark.sql import functions as F

    # each stage reopened with its manifest's schema (no inference job); N
    # and avgdl from the manifests, no aggregate job: avgdl is the constant
    # the block bounds were built with
    cp = CheckpointManager(spark, args.index)
    blocks = cp.open("blocks")
    check_format(blocks.manifest["params"].get("codec_format"), blocks.path)
    lex = cp.open("lexicon").df.select("term", "df")
    docs = cp.open("documents")
    n_docs = docs.manifest["row_count"]
    avg_dl = blocks.manifest["params"]["avg_doc_len"]

    qt = query_term_rows([(0, args.query, args.mode)])
    res = wand_topk_batch(blocks.df, lex, qt, n_docs, avg_dl, k=args.k or TOP_K).collect()
    # the ≤k result names its docs: one documents scan, pruned to three
    # columns and the ids, no join
    ids = [r["doc_id"] for r in res]
    names = {
        r["doc_id"]: f"{r['repo']}/{r['path']}"
        for r in docs.df.select("doc_id", "repo", "path").filter(F.col("doc_id").isin(ids)).collect()
    }
    for r in sorted(res, key=lambda r: r["rank"]):
        if r["doc_id"] in names:
            print(f"{r['rank']:3d}  {r['score']:12.6f}  {r['doc_id']:10d}  {names[r['doc_id']]}")


def cmd_bench(args) -> None:
    _spark(args)  # start the session outside the timed build
    t0 = time.perf_counter()
    n = cmd_build(args)["documents"]["rows"]
    t_build = time.perf_counter() - t0
    print(json.dumps({"metric": "build_wall", "value": round(t_build, 3), "unit": "sec",
                      "n_docs": n, "docs_per_sec": round(n / t_build, 1)}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--local-cores", type=int, default=None,
                    help="run on local[N] (omit under a real cluster manager)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True,
                   help="corpus parquet dir | testdata sf dir | synthetic:N")
    b.add_argument("--output", required=True)
    b.add_argument("--bucket-span", type=int, default=2048)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--mode", default="disjunctive", choices=["disjunctive", "conjunctive"])
    q.add_argument("--k", type=int, default=None)
    q.set_defaults(fn=cmd_query)

    be = sub.add_parser("bench")
    be.add_argument("--input", required=True)
    be.add_argument("--output", required=True)
    be.add_argument("--bucket-span", type=int, default=2048)
    be.set_defaults(fn=cmd_bench)

    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
