"""The batch top-k kernel over the compressed index must equal the
exhaustive DataFrame path and the pure-Python oracle rank-identically, for
both modes and every index layout."""

import pytest
from pyspark.errors import PythonException

from sparksearch.blocks import build_block_index
from sparksearch.constants import CONJUNCTIVE, DISJUNCTIVE
from sparksearch.corpus import documents_from_corpus, synthetic_corpus
from sparksearch.oracle import engine as oracle
from sparksearch.query import query_term_rows, query_terms_df, topk
from sparksearch.stats import collection_stats, lexicon
from sparksearch.tokenize import postings_from_documents
from sparksearch.wand import _batch_walk_shard, wand_topk_batch

QUERIES = [
    (1, "if return", DISJUNCTIVE),
    (2, "uniq13tok", DISJUNCTIVE),
    (3, "uniq13tok if", CONJUNCTIVE),
    (4, "def else while", CONJUNCTIVE),
    (5, "for for int", DISJUNCTIVE),
    (6, "zebraxyz", DISJUNCTIVE),
    (7, "zebraxyz if", CONJUNCTIVE),
    (8, "sym1 sym2 sym3 sym4 sym5", DISJUNCTIVE),
    (9, "buffer size node", CONJUNCTIVE),
    (10, "the int x i", DISJUNCTIVE),  # all-hot (negative idf) query
]


@pytest.fixture(scope="module")
def ctx(spark):
    docs = documents_from_corpus(synthetic_corpus(spark, 250, seed=11)).cache()
    posts = postings_from_documents(docs).cache()
    st = collection_stats(docs)
    lex = lexicon(posts).cache()
    blocks = build_block_index(posts, st["avg_doc_len"], bucket_span=40).cache()
    blocks.count()
    rows = docs.select("doc_id", "content").collect()
    idx = oracle.build_index([(r["doc_id"], r["content"]) for r in rows])
    return docs, posts, st, lex, blocks, idx


def _collect_by_query(df):
    by_q = {}
    for r in df.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for v in by_q.values():
        v.sort(key=lambda r: r["rank"])
    return by_q


def test_wand_matches_exhaustive_and_oracle(spark, ctx, placements):
    """The batch kernel (in either list placement) and the exhaustive
    DataFrame scorer must both equal the oracle, doc for doc and score for
    score, in both modes."""
    docs, posts, st, lex, blocks, idx = ctx
    qt = query_terms_df(spark, QUERIES)
    exh_res = _collect_by_query(topk(posts, lex, qt, st["n_docs"], st["avg_doc_len"]))
    for placement in placements():
        wand_res = _collect_by_query(
            wand_topk_batch(blocks, lex, query_term_rows(QUERIES), st["n_docs"], st["avg_doc_len"])
        )
        for qid, text, mode in QUERIES:
            want = oracle.topk(idx, text, mode)
            got_w = wand_res.get(qid, [])
            got_e = exh_res.get(qid, [])
            assert len(got_w) == len(want) == len(got_e), (placement, qid, len(got_w), len(want))
            for gw, ge, (od, os_) in zip(got_w, got_e, want):
                assert gw["doc_id"] == od, (placement, qid, gw["doc_id"], od)
                assert abs(gw["score"] - os_) < 1e-9
                assert ge["doc_id"] == od


def test_wand_single_bucket_layout(spark, ctx, placements):
    """Same results when each term is one group (exact reference geometry)."""
    docs, posts, st, lex, _, idx = ctx
    blocks1 = build_block_index(posts, st["avg_doc_len"])  # no bucketing
    qt = query_term_rows(QUERIES)
    for placement in placements():
        res = _collect_by_query(wand_topk_batch(blocks1, lex, qt, st["n_docs"], st["avg_doc_len"]))
        for qid, text, mode in QUERIES:
            want = oracle.topk(idx, text, mode)
            got = res.get(qid, [])
            assert [r["doc_id"] for r in got] == [d for d, _ in want], (placement, qid)


def test_batch_docpart_equals_perquery(spark, ctx, placements):
    """The doc-partitioned batch kernel (shuffle the index once, score
    every query per bucket, merge per-shard top-k) must be rank-identical
    to the per-query oracle in both modes, scores included, also when the
    buckets are so fine that each query's top-k is merged from many."""
    docs, posts, st, lex, _, idx = ctx
    blocks8 = build_block_index(posts, st["avg_doc_len"], bucket_span=8)
    qt = query_term_rows(QUERIES)
    for placement in placements():
        batch = _collect_by_query(
            wand_topk_batch(blocks8, lex, qt, st["n_docs"], st["avg_doc_len"])
        )
        for qid, text, mode in QUERIES:
            want = oracle.topk(idx, text, mode)
            got = batch.get(qid, [])
            assert [r["doc_id"] for r in got] == [d for d, _ in want], (placement, qid)
            for g, (_, os_) in zip(got, want):
                assert abs(g["score"] - os_) < 1e-9


def test_negative_idf_mix_disjunctive_bounds(spark, placements):
    """Regression (round 3): disjunctive queries mixing positive- and
    negative-idf terms.  A doc lacking the negative-idf term contributes 0
    for it — more than the (negative) per-block bound — so summing raw
    bounds under-estimates the best achievable score of pos-only docs and
    can skip the true rank-1 doc.  The corpus is tuned so
    the unsound bound falls strictly below θ while doc 180 (pos-only)
    out-scores every doc containing both terms.  With one shard the
    running θ reaches doc 180's bucket and evaluates the disjunctive
    bound there; with the default shards (8 partitions) each of the 3
    buckets has its own task and nothing is skipped."""
    rows = []
    for d in range(150):  # df(neg)=150 of N=200 -> idf < 0
        rows.append((d, "neg", 8 if d < 10 else 10, 100))
    for d in range(10):
        rows.append((d, "pos", 4, 100))
    rows.append((180, "pos", 3, 100))  # pos-only doc: true rank-1
    posts = spark.createDataFrame(rows, "doc_id long, term string, tf int, doc_len long")
    n, avgdl, k = 200, 100.0, 5
    lex = lexicon(posts).select("term", "df")
    qset = [(1, "pos neg", DISJUNCTIVE), (2, "pos neg", CONJUNCTIVE)]
    qt = query_terms_df(spark, qset)
    truth = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in topk(posts, lex, qt, n, avgdl, k=k).collect()
    )
    assert truth[0][2] == 180  # the adversarial doc really is rank-1
    blocks = build_block_index(posts, avgdl, bucket_span=64).cache()
    for placement in placements():
        for shards in (1, None):
            got = sorted(
                (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in wand_topk_batch(
                    blocks, lex, query_term_rows(qset), n, avgdl, k=k, n_shards=shards
                ).collect()
            )
            assert got == truth, (placement, shards)
    blocks.unpersist()


def test_batch_sparse_span_guard(spark, placements):
    """A sparse doc-id subset over a huge id range (unbucketed index /
    bucket_span=None) must not allocate span-sized dense arrays: the
    guard remaps ids to a compact space.  Without it this test would try
    to allocate ~10^11-element arrays and die."""
    big = 10**10
    rows = []
    for i in range(50):
        rows.append((i * (big // 50) + 7, "alpha", 1 + i % 3, 120))
        if i % 2 == 0:
            rows.append((i * (big // 50) + 7, "beta", 2, 120))
    posts = spark.createDataFrame(rows, "doc_id long, term string, tf int, doc_len long")
    lex = lexicon(posts).select("term", "df")
    qset = [(1, "alpha beta", DISJUNCTIVE), (2, "alpha beta", CONJUNCTIVE)]
    qt = query_terms_df(spark, qset)
    n, avgdl = 100, 120.0
    truth = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in topk(posts, lex, qt, n, avgdl, k=10).collect()
    )
    blocks = build_block_index(posts, avgdl)  # single bucket spanning 10^10 ids
    for placement in placements():
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in wand_topk_batch(blocks, lex, query_term_rows(qset), n, avgdl, k=10).collect()
        )
        assert got == truth, placement


def test_batch_rejects_overlapping_blocks(spark, placements):
    """Two index builds unioned over one (term, bucket) with overlapping doc
    ids list docs 5..9 twice; the dense accumulators would sum them twice
    and return wrong scores.  The kernel must reject such an index: in a
    Spark task (a PythonException) or, on the driver, as a ValueError."""
    a = [(d, "alpha", 1, 100) for d in range(10)]
    b = [(d, "alpha", 2, 100) for d in range(5, 15)]
    schema = "doc_id long, term string, tf int, doc_len long"
    pa, pb = spark.createDataFrame(a, schema), spark.createDataFrame(b, schema)
    n, avgdl = 100, 100.0
    lex = lexicon(pa.unionByName(pb)).select("term", "df")
    blocks = build_block_index(pa, avgdl, bucket_span=64).unionByName(
        build_block_index(pb, avgdl, bucket_span=64)
    )
    qt = query_term_rows([(1, "alpha", DISJUNCTIVE)])
    for placement in placements():
        error = PythonException if placement == "spark" else ValueError
        with pytest.raises(error, match="overlapping/descending doc ranges"):
            wand_topk_batch(blocks, lex, qt, n, avgdl).collect()


@pytest.mark.parametrize("form", ["rows", "frame"])
def test_batch_empty_query_batch(spark, ctx, form, placements):
    """An empty query batch (no rows, or an empty QUERY_TERMS_SCHEMA
    DataFrame) returns zero rows with the result columns, through either
    ingest."""
    from sparksearch.query import QUERY_TERMS_SCHEMA

    _, _, st_, lex, blocks, _ = ctx
    q = [] if form == "rows" else spark.createDataFrame([], QUERY_TERMS_SCHEMA)
    for placement in placements():
        res = wand_topk_batch(blocks, lex, q, st_["n_docs"], st_["avg_doc_len"])
        assert res.columns == ["query_id", "rank", "doc_id", "score"], placement
        assert res.count() == 0, placement


@pytest.mark.parametrize("max_terms", [None, 5])
def test_lexicon_cache_whole_or_incremental(spark, ctx, monkeypatch, max_terms):
    """A lexicon within the cache bound is fetched whole by its first call,
    so a later call with unseen terms launches no job; a larger one is
    fetched per missing term.  Both answer every df, absent terms as 0."""
    from sparksearch import wand

    if max_terms is not None:
        monkeypatch.setattr(wand, "_LEX_CACHE_MAX_TERMS", max_terms)
    lex = ctx[3].select("term", "df")  # a fresh DataFrame: a cold cache entry
    truth = {r["term"]: r["df"] for r in lex.collect()}
    sc = spark.sparkContext
    terms = [["if", "zebraxyz"], ["return", "uniq13tok", "qqq"]]
    for vocab in terms:
        assert wand._lexicon_dfs(lex, vocab) == {t: truth.get(t, 0) for t in vocab}
    complete = wand._LEX_CACHE[lex][0]
    assert complete == (max_terms is None)
    group = f"lexicon-probe-{max_terms}"
    sc.setJobGroup(group, "second call with unseen terms")
    try:
        assert wand._lexicon_dfs(lex, ["for", "sym1"]) == {t: truth.get(t, 0) for t in ["for", "sym1"]}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (len(sc.statusTracker().getJobIdsForGroup(group)) == 0) == complete


def test_batch_prune_skips_and_identical(spark, placements):
    """The running θ on a corpus whose BM25 norms drift monotonically with
    doc_id (doc length rising — the length-ordered layout): with one shard
    one task walks every bucket in doc order, so once the first bucket
    fills the top-k, every later bucket's max_norm bound falls below θ and
    9 of 10 buckets are skipped per query (doc_len = 50 + 2d).  Results
    must equal the exhaustive scorer, and stats_out must show the skips —
    the same results and the same counts whether the batch is a list (in
    either placement; the driver walks every bucket as one shard) or a
    DataFrame (relational ingest)."""
    rows = []
    for d in range(1000):  # df=1000 of N=4000 -> both terms positive idf
        rows.append((d, "alpha", 1, 50 + 2 * d))
        rows.append((d, "beta", 1, 50 + 2 * d))
    posts = spark.createDataFrame(rows, "doc_id long, term string, tf int, doc_len long")
    n, avgdl = 4000, 100.0
    lex = lexicon(posts).select("term", "df")
    qset = [(1, "alpha beta", DISJUNCTIVE), (2, "alpha beta", CONJUNCTIVE)]
    qt = query_terms_df(spark, qset)
    blocks = build_block_index(posts, avgdl, bucket_span=100).cache()
    blocks.count()
    truth = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in topk(posts, lex, qt, n, avgdl).collect()
    )
    def run(qin):
        stats: dict = {}
        got = sorted(
            map(tuple, wand_topk_batch(
                blocks, lex, qin, n, avgdl, stats_out=stats, n_shards=1
            ).collect())
        )
        assert [(q, rk, d, round(s, 9)) for q, rk, d, s in got] == truth
        skipped = stats["query_evals_skipped"].value
        total = stats["query_evals_total"].value
        assert skipped >= total // 2 > 0, (skipped, total)
        return got, skipped, total

    seen = {"frame": run(qt)}
    for placement in placements():
        seen[placement] = run(query_term_rows(qset))
    assert seen["driver"] == seen["spark"] == seen["frame"]
    blocks.unpersist()


def test_batch_matrix_path_and_signature_dedup(spark, ctx, placements):
    """>=32 surviving queries route through the matrix path; results must
    equal the exhaustive DataFrame scorer with raw scores compared exactly
    (every query has two distinct terms, so two-operand addition makes
    them bit-identical across engines — a BLAS re-score, which fuses and
    reorders the adds, breaks this).  Duplicate query signatures must be
    evaluated once and replicated to every member query_id."""
    docs, posts, st, lex, blocks, idx = ctx
    base = [
        (i, f"{t1} {t2}", DISJUNCTIVE if i % 2 == 0 else CONJUNCTIVE)
        for i, (t1, t2) in enumerate(
            (a, b)
            for a in ("if", "return", "def", "buffer", "size", "node", "uniq13tok")
            for b in ("int", "value", "count", "len", "data", "the")
        )
    ]
    assert len(base) >= 32
    qt = query_terms_df(spark, base)
    ref = sorted(
        map(tuple, topk(posts, lex, qt, st["n_docs"], st["avg_doc_len"]).collect())
    )
    dup = base + [(500 + i, t, m) for i, (_, t, m) in enumerate(base[:10])]
    for placement in placements():
        got = sorted(
            map(tuple, wand_topk_batch(
                blocks, lex, query_term_rows(base), st["n_docs"], st["avg_doc_len"]
            ).collect())
        )
        assert len(got) == len(ref), placement
        for g, r in zip(got, ref):
            assert g == r, (placement, g, r)

        got2 = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
            for r in wand_topk_batch(
                blocks, lex, query_term_rows(dup), st["n_docs"], st["avg_doc_len"]
            ).collect()
        }
        base_map = {(q, rk): v for q, rk, *v in ((q, rk, d, s) for q, rk, d, s in got)}
        for i, (qid, t, m) in enumerate(base[:10]):
            ranks = [rk for (q, rk) in got2 if q == qid]
            for rk in ranks:
                assert got2[(500 + i, rk)] == got2[(qid, rk)]
        for key, v in base_map.items():
            assert got2[key] == tuple(v)

def test_batch_list_qterms_and_shard_invariance(spark, placements):
    """wand_topk_batch accepts qterms as a driver-side row list
    (query_term_rows) and must match the DataFrame form exactly; the
    result must also be invariant to n_shards (1 = everything in one
    task's running top-k, 7 = non-divisor of the bucket count, default =
    shuffle partitions), since shards only change where the per-query
    merge happens."""
    rows = []
    for d in range(400):
        rows.append((d, "alpha", 1 + d % 3, 80 + (d * 7) % 90))
        if d % 3 == 0:
            rows.append((d, "beta", 2, 80 + (d * 7) % 90))
    posts = spark.createDataFrame(rows, "doc_id long, term string, tf int, doc_len long")
    n, avgdl = 1000, 100.0
    lex = lexicon(posts).select("term", "df")
    qset = [(1, "alpha beta", DISJUNCTIVE), (2, "alpha beta", CONJUNCTIVE)]
    qt_df = query_terms_df(spark, qset)
    blocks = build_block_index(posts, avgdl, bucket_span=50).cache()
    blocks.count()
    truth = sorted(
        map(tuple, wand_topk_batch(blocks, lex, qt_df, n, avgdl, k=15).collect())
    )
    for placement in placements():
        for shards in (1, 7, None):
            got = sorted(
                map(
                    tuple,
                    wand_topk_batch(
                        blocks, lex, query_term_rows(qset), n, avgdl, k=15,
                        n_shards=shards,
                    ).collect(),
                )
            )
            assert got == truth, (placement, shards)
    blocks.unpersist()

def test_batch_distributed_rank_identity(spark, ctx, placements):
    """A 10^5-query batch with heavy signature duplication must give the
    same answer as a DataFrame (relational ingest: no driver collect,
    dedup loop or broadcast) as it gives as a list (either placement).

    Query texts list terms in pool order, not sorted: both ingests must
    themselves insert each query's terms in sorted order, so cross-term
    accumulation (the one fp degree of freedom left once bm25.py pins each
    contribution) runs in the same order on both and the raw scores
    compared below are bit-identical at identical ranks."""
    from itertools import combinations

    docs, posts, st_, lex, blocks, idx = ctx
    pool = [
        "if", "return", "def", "else", "while", "for", "int", "x", "i",
        "the", "buffer", "size", "node", "value", "count", "len", "data",
        "uniq13tok", "sym1", "sym2", "sym3", "alpha", "key", "map",
    ]
    triples = list(combinations(pool, 3))  # C(24,3) = 2024 unique signatures
    qset = []
    for rep in range(50):
        for j, trip in enumerate(triples):
            qid = rep * len(triples) + j
            mode = DISJUNCTIVE if j % 2 == 0 else CONJUNCTIVE
            qset.append((qid, " ".join(trip), mode))
    assert len(qset) >= 100_000
    k = 5
    got = wand_topk_batch(
        blocks, lex, query_terms_df(spark, qset), st_["n_docs"], st_["avg_doc_len"],
        k=k, micro_rank=True,
    )
    b = sorted(map(tuple, got.collect()))
    for placement in placements():
        ref = wand_topk_batch(
            blocks, lex, query_term_rows(qset), st_["n_docs"], st_["avg_doc_len"],
            k=k, micro_rank=True,
        )
        a = sorted(map(tuple, ref.collect()))
        assert len(a) == len(b) and a == b, placement


def test_batch_frame_ingest_launches_no_job_before_action(spark, ctx, placements):
    """A DataFrame batch stays relational: building the top-k plan runs no
    Spark job (nothing is collected to the driver), and the first action
    returns the list form's answer."""
    _, _, st_, lex, blocks, _ = ctx
    qt = query_terms_df(spark, QUERIES)
    sc = spark.sparkContext
    group = "frame-ingest-plan"
    sc.setJobGroup(group, "build the top-k plan of a DataFrame batch")
    try:
        res = wand_topk_batch(blocks, lex, qt, st_["n_docs"], st_["avg_doc_len"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    got = sorted(map(tuple, res.collect()))
    for placement in placements():
        want = wand_topk_batch(
            blocks, lex, query_term_rows(QUERIES), st_["n_docs"], st_["avg_doc_len"]
        )
        assert got == sorted(map(tuple, want.collect())), placement


# list batches that each exercise one edge of the driver placement's
# ranking and replication: (queries, k)
PLACEMENT_CASES = {
    "duplicate_signatures": (
        [(1, "if return", DISJUNCTIVE), (2, "return if", DISJUNCTIVE),
         (3, "uniq13tok if", CONJUNCTIVE), (4, "if return", DISJUNCTIVE),
         (5, "if if", DISJUNCTIVE)],
        5,
    ),
    "empty": ([], 20),
    "absent_only": ([(1, "zebraxyz qqq", DISJUNCTIVE), (2, "zebraxyz", CONJUNCTIVE)], 20),
    "conjunctive_absent_term": (
        [(1, "zebraxyz if", CONJUNCTIVE), (2, "if return", CONJUNCTIVE)], 20
    ),
    "k_above_matches": ([(1, "uniq13tok", DISJUNCTIVE), (2, "def else", DISJUNCTIVE)], 10_000),
}


@pytest.mark.parametrize("micro_rank", [False, True])
@pytest.mark.parametrize("case", sorted(PLACEMENT_CASES))
def test_list_placements_bit_identical(spark, ctx, placements, case, micro_rank):
    """A query list gives the same rows, raw scores compared exactly, and
    the same column types whether it scores on the driver or in the Spark
    shard plan."""
    _, _, st_, lex, blocks, _ = ctx
    qs, k = PLACEMENT_CASES[case]
    out = {}
    for placement in placements():
        res = wand_topk_batch(
            blocks, lex, query_term_rows(qs), st_["n_docs"], st_["avg_doc_len"],
            k=k, micro_rank=micro_rank,
        )
        schema = [(f.name, f.dataType) for f in res.schema]
        out[placement] = (schema, sorted(map(tuple, res.collect())))
    assert out["driver"] == out["spark"]
    if case == "duplicate_signatures":
        rows = out["driver"][1]
        assert [r[1:] for r in rows if r[0] == 1] == [r[1:] for r in rows if r[0] == 4] != []


def test_driver_placement_one_job_no_broadcast(spark, ctx):
    """Below the gate, with a warm lexicon cache, one list query from the
    call through .collect() runs exactly one Spark job (the pruned blocks
    scan) and creates no broadcast (a broadcast leaves a file in the
    context's temp dir)."""
    import os

    from sparksearch import wand

    _, _, st_, lex, blocks, _ = ctx
    qt = query_term_rows([(1, "if return", DISJUNCTIVE)])
    wand._lexicon_dfs(lex, ["if", "return"])
    sc = spark.sparkContext
    before = set(os.listdir(sc._temp_dir))
    group = "driver-placement-jobs"
    sc.setJobGroup(group, "one list query below the gate")
    try:
        rows = wand_topk_batch(blocks, lex, qt, st_["n_docs"], st_["avg_doc_len"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 20
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert set(os.listdir(sc._temp_dir)) <= before
    assert wand._on_driver(*wand._list_size(lex, qt))


def test_driver_placement_local_files_no_job(spark, ctx, tmp_path):
    """Over a persisted ``spark.read.parquet`` blocks table, one list query
    below the gate, from the call through .collect(), runs no Spark job and
    creates no broadcast: the driver reads the table's parquet files
    itself.  The rows are the cached frame's."""
    import os

    from sparksearch import wand

    _, _, st_, lex, blocks, _ = ctx
    blocks.write.parquet(str(tmp_path / "blocks"))
    table = spark.read.parquet(str(tmp_path / "blocks"))
    qt = query_term_rows([(1, "if return", DISJUNCTIVE)])
    assert wand._on_driver(*wand._list_size(lex, qt))  # also warms the lexicon cache
    sc = spark.sparkContext
    before = set(os.listdir(sc._temp_dir))
    group = "driver-placement-local-files"
    sc.setJobGroup(group, "one list query over a parquet table")
    try:
        rows = wand_topk_batch(table, lex, qt, st_["n_docs"], st_["avg_doc_len"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert set(os.listdir(sc._temp_dir)) <= before
    want = wand_topk_batch(blocks, lex, qt, st_["n_docs"], st_["avg_doc_len"]).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want)) and len(rows) == 20


def test_local_files_cache_threads(spark, tmp_path):
    """Threads asking for the files of the same frames all get the one
    cached answer per frame (a lost update would hand some thread a list
    other than the cached one)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from sparksearch import wand

    spark.range(50).write.parquet(str(tmp_path / "t"))
    frames = [spark.read.parquet(str(tmp_path / "t")) for _ in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            asks = pool.map(lambda i: (i % 4, wand._local_files(frames[i % 4])), range(64), timeout=120)
            got = list(asks)
    finally:
        sys.setswitchinterval(switch)
    assert len(got) == 64
    for i, files in got:
        assert files is wand._FILES_CACHE[frames[i]] and files


@pytest.fixture(scope="module")
def block_sources(spark, tmp_path_factory):
    """{source: (blocks, lexicon, n_docs, avg_doc_len)} for every way the
    repo opens a blocks table over local parquet files: the reopened
    `build_index` stage (its manifest's schema), a bare
    ``spark.read.parquet``, a streamed index (one read of its per-batch
    stage directories) and a compacted one."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sparksearch.checkpoint import build_index
    from sparksearch.streaming import compact_index, ingest_batch, read_index

    root = tmp_path_factory.mktemp("blocks_sources")
    corpus = synthetic_corpus(spark, 300, seed=5).cache()
    idx = build_index(spark, corpus, str(root / "index"), bucket_span=64)
    lex = idx["lexicon"].df.select("term", "df")
    n_docs = idx["documents"].manifest["row_count"]
    avgdl = idx["blocks"].manifest["params"]["avg_doc_len"]
    out = {
        "build_index": (idx["blocks"].df, lex, n_docs, avgdl),
        "read_parquet": (spark.read.parquet(str(root / "index/blocks/data")), lex, n_docs, avgdl),
    }
    stream = str(root / "stream")
    os.makedirs(stream)
    for b in range(2):
        part = corpus.filter(F.crc32(F.concat_ws("/", "repo", "path")) % 2 == b)
        ingest_batch(part, b, stream, bucket_span=64)
    shutil.copytree(stream, str(root / "compacted"))
    compact_index(spark, str(root / "compacted"), bucket_span=128)
    for name, path in [("read_index", stream), ("compact_index", str(root / "compacted"))]:
        _, blocks, lex_, st_ = read_index(spark, path)
        out[name] = (blocks, lex_, st_["n_docs"], st_["avg_doc_len"])
    return out


def _driver_run(monkeypatch, blocks, lex, n_docs, avgdl, micro_rank):
    """(the blocks frame the kernel received, the top-k rows) of QUERIES
    forced onto the driver placement."""
    from sparksearch import wand

    monkeypatch.setattr(wand, "_DRIVER_MAX_DF", float("inf"))
    monkeypatch.setattr(wand, "_DRIVER_MAX_WORK", float("inf"))
    seen = []

    def spy(pdf, *args):
        seen.append(pdf)
        return _batch_walk_shard(pdf, *args)

    monkeypatch.setattr(wand, "_batch_walk_shard", spy)
    res = wand_topk_batch(
        blocks, lex, query_term_rows(QUERIES), n_docs, avgdl, micro_rank=micro_rank
    ).collect()
    (pdf,) = seen
    return pdf, sorted(map(tuple, res))


def _row_set(pdf):
    return sorted(
        tuple(v.tolist() if hasattr(v, "tolist") else v for v in r)
        for r in pdf.itertuples(index=False)
    )


@pytest.mark.parametrize("micro_rank", [False, True])
@pytest.mark.parametrize("source", ["build_index", "read_parquet", "read_index", "compact_index"])
def test_direct_read_equals_spark_scan(block_sources, monkeypatch, source, micro_rank):
    """The driver placement's in-process read of a table's parquet files
    hands the kernel the Spark scan's rows with the Spark scan's dtypes,
    and the top-k rows, raw scores compared exactly, are identical."""
    from sparksearch import wand

    blocks, lex, n_docs, avgdl = block_sources[source]
    assert wand._local_files(blocks)
    direct, got = _driver_run(monkeypatch, blocks, lex, n_docs, avgdl, micro_rank)
    monkeypatch.setattr(wand, "_local_files", lambda _: None)
    scan, want = _driver_run(monkeypatch, blocks, lex, n_docs, avgdl, micro_rank)
    assert direct.dtypes.to_dict() == scan.dtypes.to_dict()
    assert _row_set(direct) == _row_set(scan) != []
    assert got == want != []


def test_other_blocks_frames_keep_spark_scan(spark, block_sources, monkeypatch, tmp_path):
    """A cached read of the same path (Catalyst swaps in the cache, whose
    inputFiles() is empty), a filtered frame, a union and a partitioned
    table are not read from files, and their rows are the direct read's."""
    from pyspark.sql import functions as F

    from sparksearch import wand

    plain, lex, n_docs, avgdl = block_sources["read_parquet"]
    path = plain.inputFiles()[0].rsplit("/", 1)[0]
    _, want = _driver_run(monkeypatch, plain, lex, n_docs, avgdl, True)
    plain.write.partitionBy("bucket").parquet(str(tmp_path / "by_bucket"))
    spark.read.parquet(path).cache()
    try:
        frames = {
            "cached": spark.read.parquet(path),
            "filtered": plain.filter(F.col("bucket") >= 0),
            "union": plain.filter(F.col("bucket") < 2).union(plain.filter(F.col("bucket") >= 2)),
            "partitioned": spark.read.parquet(str(tmp_path / "by_bucket")),
        }
        for name, frame in frames.items():
            assert wand._local_files(frame) is None, name
            assert _driver_run(monkeypatch, frame, lex, n_docs, avgdl, True)[1] == want, name
    finally:
        spark.read.parquet(path).unpersist()


@pytest.mark.parametrize(
    "axis, qs",
    [
        ("df", [(1, "if return", DISJUNCTIVE)]),
        ("work", [(1, "if return", DISJUNCTIVE), (2, "else if", CONJUNCTIVE)]),
    ],
)
def test_gate_caps_each_axis(spark, ctx, monkeypatch, axis, qs):
    """A list scores on the driver only within BOTH caps.  With the other
    cap as committed, a list one past the tested cap (Σ df for one query,
    Σ df × queries for two) is broadcast to the shard tasks, which runs no
    job inside the call; exactly at the cap it scores on the driver, whose one
    job runs inside the call.  Both give the same rows."""
    from sparksearch import wand

    _, _, st_, lex, blocks, _ = ctx
    qt = query_term_rows(qs)
    dfs, n_queries = wand._list_size(lex, qt)  # also warms the lexicon cache
    sum_df = sum(dfs.values())
    assert sum_df <= wand._DRIVER_MAX_DF and sum_df * n_queries <= wand._DRIVER_MAX_WORK
    cap, size = {
        "df": ("_DRIVER_MAX_DF", sum_df),
        "work": ("_DRIVER_MAX_WORK", sum_df * n_queries),
    }[axis]
    sc = spark.sparkContext
    out = {}
    for limit, placement in [(size - 1, "spark"), (size, "driver")]:
        monkeypatch.setattr(wand, cap, limit)
        group = f"gate-{axis}-{placement}"
        sc.setJobGroup(group, "one top-k call at the gate")
        try:
            res = wand_topk_batch(blocks, lex, qt, st_["n_docs"], st_["avg_doc_len"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs == (1 if placement == "driver" else 0), placement
        out[placement] = sorted(map(tuple, res.collect()))
    assert out["driver"] == out["spark"] != []


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


@st.composite
def _corpus_and_queries(draw):
    n_docs = draw(st.integers(20, 120))
    terms = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for d in range(n_docs):
        dl = draw(st.integers(30, 300))
        for t in terms:
            tf = draw(st.integers(0, 3))
            if tf:
                rows.append((d, t, tf, dl))
    qs = []
    for qid in range(draw(st.integers(1, 4))):
        n_t = draw(st.integers(1, 3))
        qterms = draw(
            st.lists(st.sampled_from(terms), min_size=n_t, max_size=n_t)
        )
        mode = draw(st.sampled_from([DISJUNCTIVE, CONJUNCTIVE]))
        qs.append((qid, " ".join(qterms), mode))
    span = draw(st.sampled_from([16, 50, None]))
    shards = draw(st.sampled_from([1, 3, None]))
    form = draw(st.sampled_from(["rows", "frame"]))
    return rows, qs, span, shards, form


# the placements fixture is one monkeypatch shared by every example; each
# example sets the gate itself
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_corpus_and_queries())
@example(
    case=([(0, 'alpha', 2, 151),
      (0, 'gamma', 2, 151),
      (0, 'delta', 2, 151),
      (1, 'alpha', 3, 254),
      (1, 'beta', 2, 254),
      (1, 'gamma', 3, 254),
      (2, 'alpha', 3, 164),
      (2, 'gamma', 1, 164),
      (2, 'delta', 3, 164),
      (3, 'alpha', 3, 300),
      (3, 'beta', 2, 300),
      (3, 'delta', 3, 300),
      (4, 'beta', 3, 59),
      (5, 'beta', 2, 274),
      (5, 'gamma', 1, 274),
      (5, 'delta', 2, 274),
      (6, 'alpha', 2, 34),
      (6, 'beta', 2, 34),
      (6, 'gamma', 2, 34),
      (7, 'alpha', 1, 158),
      (7, 'beta', 3, 158),
      (7, 'gamma', 1, 158),
      (7, 'delta', 2, 158),
      (8, 'alpha', 3, 65),
      (8, 'beta', 1, 65),
      (8, 'gamma', 3, 65),
      (9, 'alpha', 2, 167),
      (9, 'beta', 2, 167),
      (9, 'gamma', 3, 167),
      (9, 'delta', 3, 167),
      (10, 'alpha', 3, 280),
      (10, 'beta', 1, 280),
      (10, 'delta', 2, 280),
      (11, 'alpha', 1, 82),
      (11, 'beta', 3, 82),
      (11, 'gamma', 2, 82),
      (11, 'delta', 3, 82),
      (12, 'alpha', 1, 251),
      (12, 'delta', 1, 251),
      (13, 'beta', 2, 223),
      (13, 'gamma', 3, 223),
      (13, 'delta', 1, 223),
      (14, 'beta', 3, 70),
      (14, 'gamma', 2, 70),
      (14, 'delta', 2, 70),
      (15, 'alpha', 1, 234),
      (15, 'beta', 1, 234),
      (15, 'gamma', 3, 234),
      (16, 'beta', 2, 296),
      (16, 'gamma', 2, 296),
      (16, 'delta', 2, 296),
      (17, 'alpha', 3, 138),
      (17, 'beta', 2, 138),
      (17, 'gamma', 3, 138),
      (17, 'delta', 1, 138),
      (18, 'alpha', 1, 235),
      (18, 'beta', 1, 235),
      (19, 'alpha', 2, 208),
      (19, 'delta', 1, 208),
      (20, 'alpha', 3, 37),
      (20, 'beta', 2, 37),
      (20, 'delta', 1, 37),
      (21, 'alpha', 3, 254),
      (21, 'beta', 1, 254),
      (21, 'gamma', 2, 254),
      (21, 'delta', 3, 254),
      (22, 'alpha', 2, 30),
      (22, 'beta', 3, 30),
      (22, 'gamma', 1, 30),
      (22, 'delta', 3, 30),
      (23, 'alpha', 2, 89),
      (23, 'gamma', 3, 89),
      (23, 'delta', 3, 89),
      (24, 'beta', 2, 69),
      (24, 'delta', 3, 69),
      (25, 'beta', 3, 126),
      (25, 'gamma', 2, 126),
      (25, 'delta', 3, 126),
      (26, 'alpha', 2, 265),
      (26, 'beta', 1, 265),
      (27, 'gamma', 2, 274),
      (27, 'delta', 1, 274),
      (28, 'alpha', 3, 146),
      (28, 'beta', 1, 146),
      (28, 'gamma', 3, 146),
      (28, 'delta', 2, 146),
      (29, 'gamma', 3, 170),
      (29, 'delta', 2, 170),
      (30, 'alpha', 1, 70),
      (30, 'beta', 3, 70),
      (30, 'gamma', 3, 70),
      (30, 'delta', 3, 70),
      (31, 'alpha', 2, 78),
      (31, 'beta', 3, 78),
      (31, 'gamma', 1, 78),
      (31, 'delta', 3, 78),
      (32, 'alpha', 1, 148),
      (32, 'beta', 2, 148),
      (32, 'gamma', 3, 148),
      (33, 'alpha', 3, 240),
      (33, 'beta', 2, 240),
      (33, 'gamma', 1, 240),
      (33, 'delta', 1, 240),
      (34, 'alpha', 1, 221),
      (34, 'beta', 1, 221),
      (34, 'gamma', 2, 221),
      (34, 'delta', 2, 221),
      (35, 'alpha', 1, 136),
      (35, 'beta', 2, 136),
      (35, 'gamma', 1, 136),
      (36, 'alpha', 2, 143),
      (36, 'beta', 1, 143),
      (36, 'delta', 3, 143),
      (37, 'alpha', 3, 67),
      (37, 'beta', 2, 67),
      (37, 'gamma', 3, 67),
      (37, 'delta', 3, 67),
      (38, 'alpha', 2, 59),
      (38, 'beta', 1, 59),
      (39, 'delta', 3, 129),
      (40, 'alpha', 3, 265),
      (40, 'beta', 3, 265),
      (40, 'delta', 3, 265),
      (41, 'alpha', 3, 75),
      (41, 'beta', 3, 75),
      (41, 'gamma', 1, 75),
      (42, 'alpha', 3, 188),
      (42, 'beta', 2, 188),
      (42, 'gamma', 1, 188),
      (42, 'delta', 2, 188),
      (43, 'alpha', 3, 296),
      (43, 'beta', 2, 296),
      (43, 'gamma', 3, 296),
      (43, 'delta', 2, 296),
      (44, 'alpha', 2, 153),
      (44, 'beta', 2, 153),
      (44, 'gamma', 1, 153),
      (44, 'delta', 2, 153),
      (45, 'alpha', 1, 275),
      (45, 'beta', 2, 275),
      (45, 'gamma', 1, 275),
      (45, 'delta', 2, 275),
      (46, 'alpha', 2, 223),
      (46, 'beta', 2, 223),
      (46, 'delta', 2, 223),
      (47, 'alpha', 2, 179),
      (47, 'gamma', 1, 179),
      (47, 'delta', 3, 179),
      (48, 'alpha', 2, 258),
      (48, 'beta', 3, 258),
      (48, 'gamma', 2, 258),
      (48, 'delta', 3, 258),
      (49, 'beta', 3, 110),
      (49, 'delta', 2, 110),
      (50, 'alpha', 1, 114),
      (50, 'beta', 1, 114),
      (50, 'gamma', 1, 114),
      (50, 'delta', 3, 114),
      (51, 'alpha', 2, 44),
      (51, 'beta', 1, 44),
      (51, 'gamma', 2, 44),
      (52, 'alpha', 3, 113),
      (52, 'beta', 2, 113),
      (52, 'gamma', 1, 113),
      (52, 'delta', 2, 113),
      (53, 'alpha', 3, 67),
      (53, 'gamma', 3, 67),
      (54, 'delta', 1, 57),
      (55, 'alpha', 1, 143),
      (55, 'beta', 2, 143),
      (55, 'gamma', 3, 143),
      (56, 'beta', 3, 246),
      (56, 'gamma', 3, 246),
      (57, 'alpha', 1, 287),
      (57, 'gamma', 3, 287),
      (57, 'delta', 3, 287),
      (58, 'alpha', 3, 258),
      (58, 'beta', 3, 258),
      (58, 'gamma', 3, 258),
      (59, 'delta', 3, 235),
      (60, 'gamma', 3, 218),
      (60, 'delta', 3, 218),
      (61, 'beta', 3, 76),
      (61, 'delta', 3, 76),
      (62, 'alpha', 2, 162),
      (62, 'beta', 2, 162),
      (62, 'gamma', 1, 162),
      (62, 'delta', 3, 162),
      (63, 'alpha', 2, 231),
      (63, 'beta', 3, 231),
      (63, 'gamma', 2, 231),
      (63, 'delta', 3, 231),
      (64, 'alpha', 3, 70),
      (65, 'alpha', 2, 30),
      (66, 'alpha', 3, 30),
      (67, 'alpha', 2, 30),
      (68, 'alpha', 1, 30),
      (70, 'alpha', 2, 30),
      (71, 'alpha', 3, 30),
      (73, 'alpha', 1, 30),
      (74, 'alpha', 3, 30),
      (75, 'alpha', 1, 30),
      (77, 'alpha', 1, 30),
      (80, 'alpha', 1, 30)],
     [(0, 'alpha', 'disjunctive')],
     50,
     1,
     'rows'),
).via('discovered failure')
@example(
    case=([(0, 'alpha', 1, 226),
      (0, 'beta', 2, 226),
      (0, 'delta', 3, 226),
      (1, 'alpha', 1, 208),
      (1, 'beta', 1, 208),
      (1, 'gamma', 3, 208),
      (2, 'alpha', 2, 36),
      (2, 'gamma', 3, 36),
      (2, 'delta', 1, 36),
      (3, 'alpha', 1, 214),
      (3, 'beta', 2, 214),
      (3, 'gamma', 1, 214),
      (3, 'delta', 1, 214),
      (4, 'alpha', 2, 159),
      (4, 'beta', 1, 159),
      (4, 'gamma', 2, 159),
      (4, 'delta', 3, 159),
      (5, 'alpha', 1, 51),
      (5, 'delta', 1, 51),
      (6, 'alpha', 3, 36),
      (6, 'beta', 1, 36),
      (6, 'gamma', 2, 36),
      (6, 'delta', 2, 36),
      (7, 'alpha', 2, 57),
      (7, 'gamma', 1, 57),
      (8, 'beta', 3, 186),
      (8, 'delta', 3, 186),
      (9, 'alpha', 2, 267),
      (9, 'beta', 3, 267),
      (9, 'gamma', 2, 267),
      (9, 'delta', 1, 267),
      (10, 'beta', 1, 233),
      (10, 'gamma', 2, 233),
      (10, 'delta', 2, 233),
      (11, 'alpha', 1, 274),
      (11, 'gamma', 3, 274),
      (12, 'alpha', 2, 246),
      (12, 'beta', 2, 246),
      (12, 'gamma', 2, 246),
      (12, 'delta', 2, 246),
      (13, 'alpha', 1, 189),
      (13, 'beta', 3, 189),
      (13, 'delta', 3, 189),
      (14, 'beta', 1, 30),
      (14, 'delta', 1, 30),
      (15, 'alpha', 2, 236),
      (15, 'beta', 2, 236),
      (15, 'gamma', 3, 236),
      (15, 'delta', 2, 236),
      (16, 'beta', 1, 244),
      (16, 'delta', 2, 244),
      (17, 'alpha', 2, 144),
      (17, 'beta', 3, 144),
      (17, 'gamma', 3, 144),
      (17, 'delta', 1, 144),
      (18, 'alpha', 1, 108),
      (18, 'gamma', 1, 108),
      (18, 'delta', 3, 108),
      (19, 'alpha', 3, 261),
      (19, 'delta', 1, 261),
      (20, 'alpha', 3, 199),
      (20, 'beta', 3, 199),
      (20, 'gamma', 1, 199),
      (21, 'alpha', 3, 115),
      (21, 'gamma', 2, 115),
      (22, 'beta', 3, 30),
      (23, 'alpha', 1, 115),
      (23, 'beta', 2, 115),
      (23, 'gamma', 2, 115),
      (23, 'delta', 1, 115),
      (24, 'alpha', 1, 238),
      (24, 'beta', 3, 238),
      (24, 'gamma', 2, 238),
      (24, 'delta', 2, 238),
      (25, 'alpha', 1, 76),
      (25, 'beta', 3, 76),
      (25, 'delta', 2, 76),
      (26, 'beta', 2, 289),
      (26, 'gamma', 1, 289),
      (26, 'delta', 2, 289),
      (27, 'beta', 3, 121),
      (27, 'gamma', 2, 121),
      (27, 'delta', 3, 121),
      (28, 'beta', 2, 186),
      (28, 'gamma', 1, 186),
      (28, 'delta', 1, 186),
      (29, 'alpha', 1, 122),
      (29, 'beta', 3, 122),
      (29, 'delta', 2, 122),
      (30, 'beta', 1, 287),
      (30, 'gamma', 1, 287),
      (30, 'delta', 2, 287),
      (31, 'alpha', 3, 143),
      (31, 'beta', 1, 143),
      (31, 'gamma', 1, 143),
      (31, 'delta', 3, 143),
      (32, 'alpha', 2, 202),
      (32, 'beta', 2, 202),
      (32, 'gamma', 1, 202),
      (32, 'delta', 1, 202),
      (33, 'alpha', 2, 98),
      (33, 'beta', 3, 98),
      (33, 'gamma', 3, 98),
      (33, 'delta', 1, 98),
      (34, 'alpha', 2, 179),
      (34, 'beta', 1, 179),
      (34, 'gamma', 1, 179),
      (35, 'alpha', 2, 130),
      (38, 'alpha', 1, 30),
      (39, 'alpha', 1, 30),
      (41, 'alpha', 3, 30),
      (43, 'alpha', 3, 30),
      (44, 'alpha', 2, 30),
      (45, 'alpha', 3, 30),
      (47, 'alpha', 2, 30)],
     [(0, 'alpha', 'disjunctive')],
     50,
     1,
     'frame'),
).via('discovered failure')
def test_batch_property_matches_exhaustive(placements, case):
    """Property (the engine's cross-evaluator contract, wand.py docstring):
    for random corpora (including duplicate-score ties from coarse tf/doc_len
    grids), random query bags (duplicate terms = weights), any
    bucket_span/unbucketed layout, any shard count, either batch form —

    1. wand_topk_batch is rank-identical to the exhaustive postings-table
       evaluator at MICRO resolution (round(score*1e6) desc, doc_id asc),
       the resolution the driver oracle pins; and
    2. for queries with <= 2 distinct terms (where two-operand addition
       commutes exactly, so cross-evaluator sum order cannot matter) the raw
       scores are BIT-IDENTICAL — this checks the pinned (weight*idf)*tf_norm
       association directly.  (>= 3-term sums are evaluator-order-dependent;
       the committed @example below is the round-3 falsifying case where a
       one-ulp multiply-association mismatch flipped a 5-way exact tie.)
    """
    rows, qs, span, shards, form = case
    if not rows:
        return
    spark = _hyp_spark()
    posts = spark.createDataFrame(
        rows, "doc_id long, term string, tf int, doc_len long"
    )
    n, avgdl = 500, 120.0
    lex = lexicon(posts).select("term", "df")
    qt = query_terms_df(spark, qs)
    # exhaustive truth: ALL matching docs (k > corpus), micro-ranked here so
    # the truncation itself realizes the micro contract
    full = topk(posts, lex, qt, n, avgdl, k=10_000).collect()
    by_q: dict[int, list] = {}
    for r in full:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    truth = []
    truth_raw = {}
    for qid, docs in by_q.items():
        docs.sort(key=lambda ds: (-round(ds[1] * 1e6), ds[0]))
        for rank, (d, s) in enumerate(docs[:10], start=1):
            truth.append((qid, rank, d, round(s * 1e6)))
        for d, s in docs:
            truth_raw[(qid, d)] = s
    blocks = build_block_index(posts, avgdl, bucket_span=span)
    n_distinct = {qid: len(set(text.split())) for qid, text, _ in qs}
    for placement in placements() if form == "rows" else [form]:
        qin = qt if form == "frame" else query_term_rows(qs)
        got_rows = wand_topk_batch(
            blocks, lex, qin, n, avgdl, k=10, n_shards=shards, micro_rank=True,
        ).collect()
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"] * 1e6))
            for r in got_rows
        )
        assert got == sorted(truth), placement
        for r in got_rows:
            if n_distinct[r["query_id"]] <= 2:
                assert r["score"] == truth_raw[(r["query_id"], r["doc_id"])], (
                    placement, r["query_id"], r["doc_id"])


_HYP_SPARK = []


def _hyp_spark():
    # hypothesis can't take the pytest fixture as an argument; reuse the
    # session the other tests created (conftest scope=session) or build one
    if not _HYP_SPARK:
        from sparksearch.session import get_spark

        _HYP_SPARK.append(get_spark("wand-hyp", cores=8, shuffle_partitions=8))
    return _HYP_SPARK[0]
