"""Benchmark self-test.

    python3 perfbench/selftest.py

1. The correctness gate catches a corrupted answer: a top-k with two doc_ids
   swapped, and a decoded index with one tf changed, each count as failures
   (DuckDB only, no Spark).
2. A tiny-size smoke run of every workload, untraced and traced: each prints
   one result line with every metric BENCHMARK.json names, in its unit, and
   passes the gate; in the traced run the spans tile the timed ops.
3. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from sparksearch.constants import CONJUNCTIVE, DISJUNCTIVE  # noqa: E402


def check_gate(tmp: str) -> None:
    con = oracle.connect()
    docs = [(d, f"a b{d % 3} c{d % 5}" + " x" * (d % 7)) for d in range(40)]
    con.execute("CREATE TABLE docs AS SELECT * FROM (VALUES " + ", ".join(
        f"({d}, '{t}')" for d, t in docs) + ") v(doc_id, text)")
    con.execute("""CREATE TABLE postings AS
        SELECT doc_id, term, CAST(count(*) AS INT) AS tf, any_value(length(text)) AS doc_len
        FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS term FROM docs)
        GROUP BY doc_id, term""")
    for name, sql in {
        "documents": "SELECT doc_id, length(text) AS doc_len FROM docs",
        "postings": "SELECT * FROM postings",
        "lexicon": "SELECT term, count(*) AS df FROM postings GROUP BY term",
    }.items():
        os.makedirs(f"{tmp}/{name}")
        con.execute(f"COPY ({sql}) TO '{tmp}/{name}/part-0.parquet' (FORMAT PARQUET)")

    queries = {1: (DISJUNCTIVE, [("b1", 1), ("x", 2)]), 2: (CONJUNCTIVE, [("a", 1), ("c2", 1)])}
    want = oracle.oracle_topk(con, f"{tmp}/documents", f"{tmp}/postings", queries)
    assert all(len(v) >= 2 for v in want.values()), want
    assert oracle.topk_mismatches(want, want) == []
    corrupt = {q: list(v) for q, v in want.items()}
    (d0, s0), (d1, s1) = corrupt[1][:2]
    corrupt[1][:2] = [(d1, s0), (d0, s1)]
    assert oracle.topk_mismatches(corrupt, want) == [1], "swapped doc_ids not caught"
    assert oracle.topk_mismatches({2: want[2]}, want) == [1], "missing answer not caught"

    terms = ["a", "b1", "x"]
    rows = [
        {"term": t, "doc_id": d, "tf": tf, "doc_len": dl}
        for t, d, tf, dl in con.execute(
            f"SELECT term, doc_id, tf, doc_len FROM postings WHERE term IN {tuple(terms)}"
        ).fetchall()
    ]
    assert oracle.build_mismatches(con, tmp, rows, terms) == []
    rows[0] = dict(rows[0], tf=rows[0]["tf"] + 1)
    assert oracle.build_mismatches(con, tmp, rows, terms) == ["decode_roundtrip"], "bad decode not caught"
    con.close()
    print("gate: corrupted top-k and corrupted decode are counted as failures")


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )


def check_smoke(spec: dict) -> None:
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run_bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", str(trace), "--scale", "tiny")
            assert p.returncode == 0, p.stderr[-3000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (workload, trace, set(got) ^ set(want))
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res
            else:
                # the spans must tile the timed ops
                assert res["metrics"]["trace.span_cover_ratio"]["value"] > 0.95, res
            print(f"smoke: {workload} --trace {trace}: {len(got)} metrics, attempted {res['attempted']}")


def check_bare_dir(tmp: str) -> None:
    bare = f"{tmp}/bare"
    shutil.copytree(HERE, f"{bare}/perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", bare)
    p = run_bench(bare, "--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0 and p.stdout.strip() == "", (p.returncode, p.stdout)
    print(f"bare directory: exit code {p.returncode}, no result printed")


def main() -> int:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    os.makedirs(f"{ROOT}/.bench_tmp", exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=f"{ROOT}/.bench_tmp")
    try:
        check_gate(tmp)
        check_bare_dir(tmp)
        check_smoke(spec)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
