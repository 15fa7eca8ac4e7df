#!/usr/bin/env python
"""Placement sweep for ``wand.wand_topk_batch``: sets the driver gate.

A query LIST runs on the driver when the Σ lexicon df of its vocabulary is
at most ``wand._DRIVER_MAX_DF`` and that Σ × its queries is at most
``wand._DRIVER_MAX_WORK``; any other list is broadcast to the shard tasks.
This script times the two placements of the same lists, interleaved:

* ``driver``     both caps forced open (∞);
* ``broadcast``  both caps forced shut (-1).

It measures each cap's own axis:

* the BATCH axis, on a ``--docs`` index: a batch ``Q:D`` is Q queries, D
  distinct 3-term signatures over a 31-term pool (7 hot, 12 mid, 12 tail
  terms; disjunctive and conjunctive alternate) repeated to Q;
* the Σdf axis: one disjunctive query of the first m pool terms (hot
  terms first) on each ``--df-docs`` index.

At the ``--relational`` batches it also times the broadcast list against
the same batch as a DataFrame read from parquet (the relational ingest),
in ``--relational-reps`` alternating pairs: the evidence that a large
list is better broadcast than sent to the relational ingest.

Each call's result is written to parquet (the PLANS §2b-ii protocol), and
the rows of every path are checksummed; a mismatch aborts.  A point
is a driver win only when the two sides' reps separate beyond their
quartile spread: the driver's third quartile below the broadcast's first
(one slow rep of either side, a GC pause or a neighbour's burst on a
shared host, does not decide it).  The Σdf
cap is the largest single-query Σdf at and below which every single-query
point is a win; the work cap is the largest estimate (Σdf × queries),
among points within the Σdf cap, below every estimate that is not a win.
Neither cap extrapolates past the points measured, and both hold for the
``--cores`` local cores they ran on only.

Usage (from the repository root):

    python scripts/placement_sweep.py [--docs 20000] [--df-docs 20000,100000]
        [--cores 4] [--reps 9] [--batches 1:1,10:10,...] [--df-terms 1,3,...]
        [--relational 10000:2000,...] [--relational-reps 10]
        [--out PLACEMENT_SWEEP.json]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from itertools import combinations

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparksearch import wand  # noqa: E402
from sparksearch.checkpoint import build_index  # noqa: E402
from sparksearch.constants import CONJUNCTIVE, DISJUNCTIVE, TOP_K  # noqa: E402
from sparksearch.corpus import _HOT, _MID, _TAIL, synthetic_corpus  # noqa: E402
from sparksearch.query import query_term_rows, query_terms_df  # noqa: E402
from sparksearch.session import get_spark  # noqa: E402

POOL = _HOT + _MID[:12] + _TAIL[:12]
CAPS = {"driver": float("inf"), "broadcast": -1}


def batch(n: int, distinct: int) -> list[tuple[int, str, str]]:
    sigs = list(combinations(POOL, 3))
    random.Random(7).shuffle(sigs)
    sigs = sigs[: min(n, distinct)]
    return [
        (i, " ".join(reversed(sigs[i % len(sigs)])), DISJUNCTIVE if i % 2 == 0 else CONJUNCTIVE)
        for i in range(n)
    ]


def driver_wins(p: dict) -> bool:
    driver, broadcast = (statistics.quantiles(p["seconds"][s], n=4) for s in ("driver", "broadcast"))
    return driver[2] < broadcast[0]


def cap(points: list[dict], key: str) -> int:
    """The largest ``key`` of a driver win below every ``key`` of a point
    that is not one (0 when there is none)."""
    lost = min((p[key] for p in points if not driver_wins(p)), default=float("inf"))
    return max((p[key] for p in points if driver_wins(p) and p[key] < lost), default=0)


def gate(points: list[dict]) -> tuple[int, int]:
    max_df = cap([p for p in points if p["queries"] == 1], "sum_df")
    return max_df, cap([p for p in points if p["sum_df"] <= max_df], "estimate")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--df-docs", default="20000,100000")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument(
        "--batches",
        default="1:1,10:10,100:100,300:300,1000:1000,2000:2000,4000:4000,"
        "10000:200,10000:2000,10000:4000,30000:2000,100000:200,100000:2000",
    )
    ap.add_argument("--df-terms", default="1,3,7,15,31")
    ap.add_argument("--reps", type=int, default=9)
    ap.add_argument("--relational", default="10000:2000,100000:2000")
    ap.add_argument("--relational-reps", type=int, default=10)
    ap.add_argument("--out", default="PLACEMENT_SWEEP.json")
    args = ap.parse_args()

    spark = get_spark("placement-sweep", cores=args.cores, shuffle_partitions=args.cores)
    work = tempfile.mkdtemp(prefix="placement_sweep_")
    points, relational = [], []
    try:
        df_docs = [int(d) for d in args.df_docs.split(",")]
        for docs in sorted({args.docs, *df_docs}):
            index = build_index(spark, synthetic_corpus(spark, docs, seed=42), f"{work}/index{docs}")
            blocks = index["blocks"].df
            lex = index["lexicon"].df.select("term", "df")
            n_docs = index["documents"].manifest["row_count"]
            avgdl = index["blocks"].manifest["params"]["avg_doc_len"]

            def run(placement: str, rows) -> tuple[float, tuple]:
                """Seconds of one call through its parquet write, and a
                checksum of the rows written."""
                wand._DRIVER_MAX_DF = wand._DRIVER_MAX_WORK = CAPS.get(placement, -1)
                t0 = time.perf_counter()
                wand.wand_topk_batch(
                    blocks, lex, rows, n_docs, avgdl, k=TOP_K, micro_rank=True
                ).write.mode("overwrite").parquet(f"{work}/result")
                secs = time.perf_counter() - t0
                check = spark.read.parquet(f"{work}/result").selectExpr(
                    "count(*)", "bit_xor(xxhash64(query_id, rank, doc_id, score))"
                ).first()
                return secs, tuple(check)

            specs = []
            if docs == args.docs:
                specs += [(f"batch {s}", batch(*map(int, s.split(":")))) for s in args.batches.split(",")]
            if docs in df_docs:
                specs += [
                    (f"df {m}", [(0, " ".join(POOL[:m]), DISJUNCTIVE)])
                    for m in map(int, args.df_terms.split(","))
                ]
            for placement in CAPS:  # warm-up: lexicon cache, JIT, both plans
                run(placement, query_term_rows(batch(1, 1)))
            for name, qs in specs:
                rows = query_term_rows(qs)
                dfs, n_queries = wand._list_size(lex, rows)
                secs = {p: [] for p in CAPS}
                checks = set()
                for _ in range(args.reps):
                    for placement in CAPS:
                        s, check = run(placement, rows)
                        secs[placement].append(round(s, 3))
                        checks.add(check)
                if len(checks) != 1:
                    raise SystemExit(f"placements disagree at {docs} docs, {name}: {checks}")
                point = {
                    "docs": docs,
                    "batch": name,
                    "queries": n_queries,
                    "distinct": len({(m, t) for _, t, m in qs}),
                    "sum_df": sum(dfs.values()),
                    "estimate": sum(dfs.values()) * n_queries,
                    "seconds": secs,
                    "median_s": {p: statistics.median(v) for p, v in secs.items()},
                }
                point["driver_wins"] = driver_wins(point)
                points.append(point)
                print(json.dumps(point), flush=True)
            for spec in args.relational.split(",") if docs == args.docs else []:
                qs = batch(*map(int, spec.split(":")))
                query_terms_df(spark, qs).write.mode("overwrite").parquet(f"{work}/queries")
                paths = {"broadcast": query_term_rows(qs), "relational": spark.read.parquet(f"{work}/queries")}
                secs = {p: [] for p in paths}
                checks = set()
                for i in range(args.relational_reps):
                    for p in sorted(paths, reverse=i % 2 == 1):
                        s, check = run(p, paths[p])
                        secs[p].append(round(s, 3))
                        checks.add(check)
                if len(checks) != 1:
                    raise SystemExit(f"ingests disagree at {spec}: {checks}")
                point = {
                    "batch": spec,
                    "seconds": secs,
                    "median_s": {p: statistics.median(v) for p, v in secs.items()},
                    "broadcast_faster_pairs": sum(
                        b < r for b, r in zip(secs["broadcast"], secs["relational"])
                    ),
                }
                relational.append(point)
                print(json.dumps(point), flush=True)
            shutil.rmtree(f"{work}/index{docs}", ignore_errors=True)
        max_df, max_work = gate(points)
        result = {
            "cpus": os.cpu_count(),
            "cores": args.cores,
            "bucket_span": 2048,
            "pool": len(POOL),
            "k": TOP_K,
            "reps": args.reps,
            "points": points,
            "relational": relational,
            "max_df": max_df,
            "max_work": max_work,
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps({"max_df": max_df, "max_work": max_work, "out": args.out}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
