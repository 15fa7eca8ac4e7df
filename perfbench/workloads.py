"""The workloads: ``build`` (the write path) and ``serve`` (one client
sending single queries).

Each workload gets its seed as an argument and hands the library only the
generated corpus and queries.  A workload has four steps:

* ``setup(spark)``   generate inputs (and, for serve/batch, build the index);
* ``bind(spark, tracer)``  open the index in a Spark session and warm up;
* ``op(i)``          one timed operation; returns the items it processed;
* ``gate()``         the correctness checks for every op since the last gate;
                     returns the indices of the ops that failed them.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparksearch.blocks import build_block_index, decode_block_index
from sparksearch.constants import CONJUNCTIVE, DISJUNCTIVE
from sparksearch.corpus import (
    _HOT, _MID, _TAIL, _gen_batch, documents_from_corpus, reorder_documents,
)
from sparksearch.query import query_term_rows
from sparksearch.stats import collection_stats, doc_table, lexicon
from sparksearch.tokenize import postings_from_documents
from sparksearch.wand import wand_topk_batch

from . import oracle
from .trace import Tracer

BUCKET_SPAN = 2048

# Sizes are bounded by the run budget: every run, set-up included, has to
# fit in well under a minute on a 4-core host (see NOTES.md).
SIZES = {
    "full": {
        "build_docs": 3000, "warm_docs": 300,
        "serve_docs": 4000, "serve_pool": 96,
    },
    "tiny": {
        "build_docs": 1200, "warm_docs": 300,
        "serve_docs": 1200, "serve_pool": 12,
    },
}


def dir_bytes(path: str) -> int:
    """On-disk bytes of a Spark output directory's data files."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


def write_corpus(path: str, n_docs: int, seed: int) -> None:
    """The rows ``corpus.synthetic_corpus(spark, n_docs, seed)`` yields (each
    row is a pure function of seed and row index), generated in this process
    and written as 4 parquet files: set-up then pays no Spark job for it."""
    os.makedirs(path)
    for k, ids in enumerate(np.array_split(np.arange(n_docs), 4)):
        table = pa.Table.from_pandas(_gen_batch(ids, seed), preserve_index=False)
        pq.write_table(table, f"{path}/part-{k:05d}.parquet")


def build_index(spark, corpus_dir: str, out: str, tracer: Tracer) -> dict:
    """The full index build, one span per public call.  Each span includes
    the write of the call's output and the re-open of what was written, so
    the spans tile the build."""

    def persist(df, name: str):
        df.write.parquet(f"{out}/{name}")
        return spark.read.parquet(f"{out}/{name}")

    with tracer.span("corpus.reorder"):
        corpus = spark.read.parquet(corpus_dir)
        docs = persist(reorder_documents(documents_from_corpus(corpus)), "documents")
    with tracer.span("stats.collection"):
        st = collection_stats(docs)
    with tracer.span("tokenize.postings"):
        posts = persist(postings_from_documents(docs), "postings")
    with tracer.span("blocks.build"):
        persist(build_block_index(posts, st["avg_doc_len"], bucket_span=BUCKET_SPAN), "blocks")
    with tracer.span("stats.lexicon"):
        persist(lexicon(posts), "lexicon")
    with tracer.span("stats.doc_table"):
        persist(doc_table(docs, posts), "doc_table")
    return st


def random_terms(rng: random.Random, n_docs: int, kinds: list[str]) -> list[str]:
    """Distinct query terms of the given kinds: ``hot`` (negative idf),
    ``mid`` (mid-df), ``tail`` (``sym*``) or ``uniq`` (one doc each)."""
    out: list[str] = []
    while len(out) < len(kinds):
        kind = kinds[len(out)]
        if kind == "uniq":
            t = f"uniq{rng.randrange(n_docs)}tok"
        else:
            t = rng.choice({"hot": _HOT, "mid": _MID, "tail": _TAIL}[kind])
        if t not in out:
            out.append(t)
    return out


def query_shapes(n: int) -> list[tuple[str, list[str]]]:
    """A fixed sequence (independent of the seed) of ``n`` query shapes:
    (mode, term kinds), 1-4 terms, 70/30 disjunctive/conjunctive and
    30/30/25/15 hot/mid/tail/uniq.  The seed picks only the terms that fill
    each shape, so every seed's pool costs about the same to answer."""
    rng = random.Random(1)
    return [
        (
            CONJUNCTIVE if i % 10 in (2, 5, 8) else DISJUNCTIVE,
            rng.choices(["hot", "mid", "tail", "uniq"], weights=[30, 30, 25, 15], k=rng.randint(1, 4)),
        )
        for i in range(n)
    ]


def zipf_ranks(pool: int, n: int, s: float = 0.8) -> list[int]:
    """A fixed rank sequence (independent of the seed), so every seed sees
    the same repeat pattern: the head of the pool repeats and hits the
    driver caches, the tail misses them.  With a pool of 96 this sequence
    repeats one of the 8 most recent queries in 20-25% of every prefix of
    8-30 queries, so the median query is always a cache miss and does not
    flip between the two latency modes as the query count changes."""
    w = 1.0 / np.arange(1, pool + 1) ** s
    return np.random.default_rng(1).choice(pool, size=n, p=w / w.sum()).tolist()


class Workload:
    def __init__(self, work: str, seed: int, size: dict):
        self.work = work
        self.seed = seed
        self.size = size
        self.spark = None
        self.tracer = Tracer()
        self.index_ratio = 0.0  # on-disk blocks bytes / corpus content bytes
        self.index_counts: dict[str, int] = {}

    def _index_stats(self, con, out: str, corpus_dir: str) -> None:
        content = con.execute(
            f"SELECT sum(strlen(content)) FROM read_parquet('{corpus_dir}/*.parquet')"
        ).fetchone()[0]
        self.index_ratio = dir_bytes(f"{out}/blocks") / content
        rows, = con.execute(f"SELECT count(*) FROM read_parquet('{out}/postings/*.parquet')").fetchone()
        n_blocks, payload = con.execute(
            f"SELECT count(*), sum(octet_length(payload)) FROM read_parquet('{out}/blocks/*.parquet')"
        ).fetchone()
        self.index_counts = {
            "tokenize.postings_rows": int(rows),
            "blocks.n_blocks": int(n_blocks),
            "blocks.payload_bytes": int(payload),
        }


class Build(Workload):
    """Times the full index build of a seeded corpus."""

    def setup(self, spark) -> None:
        self.corpus = f"{self.work}/corpus"
        self.warm_corpus = f"{self.work}/warm_corpus"
        self.n_docs = self.size["build_docs"]
        write_corpus(self.corpus, self.n_docs, self.seed)
        # a different seed: the warm-up must not pre-load this run's data
        write_corpus(self.warm_corpus, self.size["warm_docs"], self.seed + 7919)
        self.outputs: list[tuple[int, str]] = []
        self._n_out = 0

    def _out(self) -> str:
        self._n_out += 1
        return f"{self.work}/build{self._n_out}"

    def bind(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        # untimed warm-up build: the first build in a JVM runs ~1.5x slower
        build_index(spark, self.warm_corpus, self._out(), Tracer())
        self.tracer = tracer

    def op(self, i: int) -> int:
        out = self._out()
        build_index(self.spark, self.corpus, out, self.tracer)
        self.outputs.append((i, out))
        return self.n_docs

    def gate(self) -> list[int]:
        rng = random.Random(self.seed)
        terms = (
            rng.sample(_HOT, 2) + rng.sample(_MID, 2) + rng.sample(_TAIL, 3)
            + [f"uniq{rng.randrange(self.n_docs)}tok" for _ in range(3)]
        )
        con = oracle.connect()
        failed = []
        for i, out in self.outputs:
            blocks = self.spark.read.parquet(f"{out}/blocks").filter(F.col("term").isin(terms))
            decoded = decode_block_index(blocks).collect()
            if oracle.build_mismatches(con, out, decoded, terms):
                failed.append(i)
        if self.outputs:
            self._index_stats(con, self.outputs[-1][1], self.corpus)
        con.close()
        self.outputs = []
        return failed


class Serve(Workload):
    """A closed loop with one client sending single queries, drawn
    Zipf-style from a pool of distinct queries, against a persisted
    length-ordered index opened once per Spark session as one
    blocks/lexicon DataFrame pair (as a running service does)."""

    def setup(self, spark) -> None:
        corpus = f"{self.work}/corpus"
        self.index = f"{self.work}/index"
        self.n_docs = self.size["serve_docs"]
        write_corpus(corpus, self.n_docs, self.seed)
        self.st = build_index(spark, corpus, self.index, Tracer())
        con = oracle.connect()
        self._index_stats(con, self.index, corpus)
        con.close()
        rng = random.Random(self.seed)
        pool, seen = [], set()
        for mode, kinds in query_shapes(self.size["serve_pool"]):
            terms = random_terms(rng, self.n_docs, kinds)
            while (mode, frozenset(terms)) in seen:  # the pool holds distinct queries
                terms = random_terms(rng, self.n_docs, kinds)
            seen.add((mode, frozenset(terms)))
            pool.append((" ".join(terms), mode))
        self.sequence = [pool[r] for r in zipf_ranks(len(pool), 4096)]
        warm = random.Random(self.seed + 7919)
        self.warmup = [
            (" ".join(random_terms(warm, self.n_docs, ["mid", "tail"])), DISJUNCTIVE) for _ in range(6)
        ]
        self.done: list[tuple[int, list[dict], list]] = []

    def bind(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.blocks = spark.read.parquet(f"{self.index}/blocks")
        self.lex = spark.read.parquet(f"{self.index}/lexicon").select("term", "df")
        self.tracer = Tracer()
        for i in range(-len(self.warmup), 0):
            self.op(i)
        self.done = []
        self.tracer = tracer

    def op(self, i: int) -> int:
        text, mode = self.warmup[i] if i < 0 else self.sequence[i]
        with self.tracer.span("query.parse"):
            rows = query_term_rows([(i, text, mode)])
        with self.tracer.span("wand.topk") as extra:
            stats: dict = {}
            res = wand_topk_batch(
                self.blocks, self.lex, rows, self.st["n_docs"], self.st["avg_doc_len"],
                micro_rank=True, stats_out=stats,
            ).collect()
            total, skipped = stats.get("query_evals_total"), stats.get("query_evals_skipped")
            extra["gate_fired"] = int(total is not None)
            extra["evals_total"] = total.value if total is not None else 0
            extra["evals_skipped"] = skipped.value if skipped is not None else 0
        self.done.append((i, rows, res))
        return 1

    def gate(self) -> list[int]:
        """Re-rank every answered query in DuckDB; a query op fails if its
        answer differs."""
        queries: dict[int, tuple[str, list[tuple[str, int]]]] = {}
        got: dict[int, list] = {}
        for i, rows, res in self.done:
            queries[i] = (rows[0]["mode"], [(r["term"], r["weight"]) for r in rows])
            got[i] = oracle.ranked(res).get(i, [])
        con = oracle.connect()
        want = oracle.oracle_topk(con, f"{self.index}/documents", f"{self.index}/postings", queries)
        con.close()
        self.done = []
        return oracle.topk_mismatches(got, want)


WORKLOADS = {"build": Build, "serve": Serve}
