"""Doc-partitioned batch BM25 top-k over the compressed index — the one
production top-k engine.

The reference's query processor is one loop (hw3/DataLoader.cpp:372-430,
636-671): decode a term's posting blocks, accumulate BM25 into a dense
score array, keep a bounded top-k heap.  :func:`wand_topk_batch` runs that
loop once per doc-range shard: the term-pruned index subset is shuffled
ONCE by ``bucket mod n_shards``, every shard receives the query batch
(one query or 10^6), and each shard walks its buckets in ascending doc order,
decoding every matched term once (block-at-a-time, numpy), scoring every
query against the decoded arrays and keeping a per-query running top-k.
A window top-k merges the shards.  It is the one public top-k entry, and
every placement feeds the same kernel:

* a small driver-side query list (Σ lexicon df of its vocabulary at most
  ``_DRIVER_MAX_DF``, and that Σ × its queries at most
  ``_DRIVER_MAX_WORK``) runs the reference's in-process loop on the
  driver, eagerly inside the call: the IN-list-pruned blocks (a local
  parquet table's files read in-process, no Spark job; any other frame,
  one Arrow scan job), the kernel over them as one shard, pandas ranking;
* a larger list is broadcast to the shard tasks;
* a query DataFrame stays relational (cogrouped with the shards).

The exhaustive DataFrame scorer (query.topk), the pure-Python oracle and
the DuckDB SQL are the independent references it is tested against.

Per-posting contributions use the ONE pinned floating-point association
``(weight * idf) * tf_norm`` (bm25.py module docstring), so a single
contribution is bit-identical across this kernel, the exhaustive
DataFrame scorer (query.py), the pure-Python oracle, and the DuckDB
oracle SQL.  Multi-term SUM order differs between engines (Spark
aggregates in partition order; the kernel takes terms in sorted order), so
raw-score equality with the references is only guaranteed for queries
with <= 2 distinct terms (two-operand addition commutes exactly); the
rank contract holds at micro resolution (round(score * 1e6) desc, doc_id
asc) — the resolution the driver oracle pins.  Within the kernel, every
scoring branch adds a query's terms in sorted order, and ranking is
deterministic at raw resolution with the doc_id tie-break.

Score bounds with the reference's UNCLAMPED idf (negative for df > N/2):
contribution = (weight * idf) * tf_norm, so the per-(bucket, term) bound
is ``(weight * idf) * (max_tf_norm  if idf >= 0 else  min_tf_norm)`` —
the SAME association as the score sites (a differently-associated bound
can land 1 ulp below a true contribution and wrongly prune a θ-tie) —
a bound CONDITIONAL on the doc containing the term.  Combining per-term
bounds across a disjunctive query must respect that a doc may simply LACK
a negative-bound term (contributing 0 > bound), so the combined bound is
``Σ max(bd_t, 0)`` when any bd_t > 0, else ``max_t bd_t`` (the doc must
contain at least one query term).  Summing raw (possibly negative) bounds
under-estimates and can skip a winning pos-only doc — see
:func:`_disjunctive_bound` and
tests/test_wand.py::test_negative_idf_mix_disjunctive_bounds.
Conjunctive evaluation forces every term present, so there the plain sum
is sound (and tighter).

Bound skipping has one mechanism, the reference's heap threshold
tightening as it streams doc ranges (hw3/DataLoader.cpp:636-671): each
shard walks its buckets in ascending doc order, and once a query holds k
results in that shard its k-th best ACHIEVED score is θ.  A later
(query, bucket) evaluation is skipped only when its bound is STRICTLY
below θ minus a float-safety margin, widened by one micro quantum under
``micro_rank`` — so a skipped bucket holds no doc that could tie or beat
the k-th, and skipping changes work, never results.  It launches no
extra Spark job.

Index-order invariant: within one (term, bucket), blocks in block_id
order hold strictly ascending doc ids (the build sorts by doc_id; the
streaming ingest aligns batch offsets to buckets so batches never share
one).  The kernel rejects an index that breaks it: a doc listed twice
would otherwise be summed twice.
"""

from __future__ import annotations

import threading
import weakref
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bm25 import bm25_idf_py
from .codec import decode_block, tf_norm
from .constants import CONJUNCTIVE, TOP_K

# guards mutation of _LEX_CACHE: a long-running batch service may drive
# wand_topk_batch from several driver threads, and an unguarded clear()
# between a membership test and a read loses cached terms mid-call.  Spark
# collects happen OUTSIDE the lock — a lost race costs one redundant
# lexicon job, never a wrong answer.
_CACHE_LOCK = threading.Lock()

# {lexicon DataFrame -> (complete, {term -> df})} cache for the driver-side
# df/idf resolution in wand_topk_batch: a batch service resolves
# many query batches against one immutable lexicon snapshot, and each resolve
# was one collect JOB — a fixed serial driver cost per call (profiled ~0.2 s)
# that capped measured short-phase 4x-core scaling.  A lexicon of at most
# _LEX_CACHE_MAX_TERMS terms is fetched whole by its first call, so no later
# call launches a lexicon job and a query costs the same whether or not its
# terms were seen before; a larger one is fetched per missing term, and
# absent terms cache as df=0 so they are never re-probed.
_LEX_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_LEX_CACHE_MAX_TERMS = 1 << 16

# {blocks DataFrame -> its local parquet files or None} (_local_files)
_FILES_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
# the blocks columns the shard kernel reads
_KERNEL_COLS = ["term", "bucket", "block_id", "payload", "docid_sizes", "tf_sizes", "dl_sizes",
                "max_tf_norm", "min_tf_norm"]

# Placement gate of a query LIST (PLANS §2b-ii): a list scores on the
# driver when the Σ lexicon df of its vocabulary (the postings the driver
# collects and decodes on one core) is at most _DRIVER_MAX_DF AND that Σ ×
# its queries is at most _DRIVER_MAX_WORK; any other list is broadcast to
# the shard tasks.  One cap per axis the committed placement sweep measured
# (scripts/placement_sweep.py, PLACEMENT_SWEEP.json): each is the largest
# point at and below which the driver's runs beat the broadcast's beyond
# their quartile spread, so neither axis is extrapolated.  Measured on 4
# local cores (local[4]) over file-backed blocks only: the broadcast side
# scales with executors and the driver does not, so on a cluster the
# crossover sits lower.  The work estimate counts every query, not only
# the distinct signatures: the driver also replicates k rows to each
# duplicate, serially.
_DRIVER_MAX_DF = 1_994_824
_DRIVER_MAX_WORK = 119_715_600


def _lexicon_dfs(lexicon: DataFrame, vocab: list[str]) -> dict[str, int]:
    """df counts for ``vocab`` from the lexicon, cached per lexicon
    DataFrame object.  WeakKeyDictionary: entries die with the DataFrame,
    so a rebuilt lexicon (a new object) can never serve stale counts.  A
    lexicon larger than ``_LEX_CACHE_MAX_TERMS`` is cached incrementally
    and its dict is cleared if it would outgrow the bound (query
    vocabularies are tiny; the bound only guards a pathological
    unbounded-vocabulary service)."""
    with _CACHE_LOCK:
        entry = _LEX_CACHE.get(lexicon)
    if entry is None:
        head = lexicon.select("term", "df").limit(_LEX_CACHE_MAX_TERMS + 1).collect()
        complete = len(head) <= _LEX_CACHE_MAX_TERMS
        entry = (complete, {r["term"]: int(r["df"]) for r in head} if complete else {})
        with _CACHE_LOCK:
            entry = _LEX_CACHE.setdefault(lexicon, entry)
    complete, cache = entry
    if complete:
        return {t: cache.get(t, 0) for t in vocab}
    with _CACHE_LOCK:
        out = {t: cache[t] for t in vocab if t in cache}
    missing = [t for t in vocab if t not in out]
    if missing:
        found = {
            r["term"]: int(r["df"])
            for r in lexicon.select("term", "df")
            .filter(F.col("term").isin(missing))
            .collect()
        }
        for t in missing:
            out[t] = found.get(t, 0)
        with _CACHE_LOCK:
            # answer from `out` (complete by construction) BEFORE the bound
            # clears the cache: clearing then refilling only `missing` would
            # drop already-cached vocab terms mid-call
            if len(cache) + len(missing) > _LEX_CACHE_MAX_TERMS:
                cache.clear()
            for t in missing:
                cache[t] = out[t]
    return out


def _micro_i64(scores: np.ndarray) -> np.ndarray:
    """round(score * 1e6) half-away-from-zero — the repo-wide *_micro
    convention (matches Spark F.round HALF_UP and DuckDB round())."""
    v = scores * 1e6
    return np.where(v >= 0, np.floor(v + 0.5), -np.floor(-v + 0.5)).astype(np.int64)


def _disjunctive_bound(acc_pos: float, best_single: float) -> float:
    """Sound upper bound for a doc containing >=1 of a term set whose
    per-term presence-conditional bounds have positive-sum ``acc_pos`` and
    max ``best_single`` (module docstring: negative-bound terms may be
    absent and contribute 0, so they never tighten a disjunctive bound)."""
    return acc_pos if acc_pos > 0.0 else best_single


# shared by every placement of wand_topk_batch (a list on the driver or
# broadcast, a DataFrame relational): each hands the per-shard kernel below
# the same representative queries, each with its term dict in sorted term
# order, and both scoring branches add a query's per-term contributions in
# that order — so a (query, bucket)'s scores are bit-identical whichever
# placement fed it and however many queries share its bucket (the
# fp-determinism contract, bm25.py module docstring).
_BATCH_CAND_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
_BATCH_EMPTY = {"query_id": np.int32, "doc_id": np.int64, "score": np.float64}
# the result columns, as the Spark placement's merge window types them
_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _query_bound(q: dict, term_stats: dict) -> float | None:
    """Score bound for one query over one bucket, from per-(bucket, term)
    max/min tf_norm; None = the query cannot match here at all.  Same term
    order and multiplication shape as the scoring loop, so the bound
    dominates every achieved score under fp monotonicity."""
    present = [t for t in q["terms"] if t in term_stats]
    if not present:
        return None
    if q["mode"] == CONJUNCTIVE:
        if len(present) < q["n_terms"]:
            return None
        acc = 0.0
        for t in present:
            w, idf = q["terms"][t]
            mx, mn = term_stats[t]
            acc += (w * idf) * (mx if idf >= 0 else mn)
        return acc
    acc_pos, best_single = 0.0, float("-inf")
    for t in present:
        w, idf = q["terms"][t]
        mx, mn = term_stats[t]
        bd = (w * idf) * (mx if idf >= 0 else mn)
        if bd > 0.0:
            acc_pos += bd
        if bd > best_single:
            best_single = bd
    return _disjunctive_bound(acc_pos, best_single)


def _exact_scores(q: dict, present: list[str], term_dense: dict, idx: np.ndarray) -> np.ndarray:
    """Float64 scores of query ``q`` at dense offsets ``idx``: the pinned
    ``(weight * idf) * tf_norm`` contributions added one term at a time in
    the query's sorted term order — the ONE summation order of both scoring
    branches (a BLAS dot product fuses and reorders these adds)."""
    score = None
    for t in present:
        w, idf = q["terms"][t]
        contrib = (w * idf) * term_dense[t][0][idx]
        score = contrib if score is None else score + contrib
    return score


def _batch_score_bucket(
    pdf: pd.DataFrame,
    qitems,
    run_theta: dict,
    collect,
    evals: list[int],
    avg_doc_len: float,
    k: int,
    micro_rank: bool,
) -> None:
    """Score every query of ``qitems`` against ONE bucket's blocks (see
    wand_topk_batch's docstring for the architecture).  Decodes each term
    once, builds dense per-term accumulators, skips queries whose bucket
    bound falls below their in-shard running θ (``run_theta``), then
    either the BLAS matrix path (≥32 survivors) or per-query dense vector
    adds.  ``evals`` counts [matching (query, bucket) pairs, skipped]."""
    # decode each term once for this bucket, in sorted term order (the
    # matrix path's term axis); track per-term max/min tf_norm over its
    # blocks for the bound check
    decoded: list[tuple[str, np.ndarray, np.ndarray]] = []
    term_stats: dict[str, tuple[float, float]] = {}
    lo = None
    hi = None
    for term, tb in pdf.groupby("term", sort=True):
        tb = tb.sort_values(["bucket", "block_id"])
        d_parts, n_parts = [], []
        for b in tb.itertuples(index=False):
            docs, tfs, dls = decode_block(
                bytes(b.payload),
                np.asarray(b.docid_sizes),
                np.asarray(b.tf_sizes),
                np.asarray(b.dl_sizes),
            )
            d_parts.append(docs)
            n_parts.append(
                tf_norm(tfs.astype(np.float64), dls.astype(np.float64), avg_doc_len)
            )
        docs = np.concatenate(d_parts)
        if len(docs) > 1 and (np.diff(docs) <= 0).any():
            # the dense accumulators below would silently sum a doc listed
            # twice (e.g. two index builds unioned over one (term, bucket))
            raise ValueError(
                "posting blocks have overlapping/descending doc ranges; "
                "rebuild or compact the index (buckets must be doc-disjoint)"
            )
        decoded.append((term, docs, np.concatenate(n_parts)))
        term_stats[term] = (
            float(tb["max_tf_norm"].max()),
            float(tb["min_tf_norm"].min()),
        )
        lo = int(docs[0]) if lo is None else min(lo, int(docs[0]))
        hi = int(docs[-1]) if hi is None else max(hi, int(docs[-1]))
    if not decoded:
        return

    # dense per-bucket accumulators (the reference's TAAT dense score array,
    # hw3/DataLoader.cpp:376-392, applied per doc range): one bincount per
    # TERM, then each query is a few dense vector adds — no per-query
    # sort/unique (that variant saturated the memory bus and anti-scaled at
    # 32 cores).  Sparse-span guard: an unbucketed index (bucket_span=None)
    # or a sparse doc-id subset must not allocate span-sized arrays — remap
    # doc_ids to a compact 0..n_unique-1 space first.
    total_len = sum(len(d) for _, d, _ in decoded)
    span = hi - lo + 1
    if span > max(4 * total_len, 1 << 16):
        id_map = np.unique(np.concatenate([d for _, d, _ in decoded]))
        span = len(id_map)

        def to_off(docs: np.ndarray) -> np.ndarray:
            return np.searchsorted(id_map, docs)

    else:
        id_map = None

        def to_off(docs: np.ndarray) -> np.ndarray:
            return (docs - lo).astype(np.int64)

    term_dense: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for term, docs, norms in decoded:
        off = to_off(docs)
        dn = np.bincount(off, weights=norms, minlength=span)
        mask = np.zeros(span, np.int16)
        mask[off] = 1
        term_dense[term] = (dn, mask)

    survivors: list[tuple[int, dict, list[str]]] = []
    for qid, q in qitems:
        present = [t for t in q["terms"] if t in term_dense]
        if not present:
            continue
        if q["mode"] == CONJUNCTIVE and len(present) < q["n_terms"]:
            continue
        evals[0] += 1
        # θ = this shard's running k-th best, an achieved score and so a
        # sound lower bound on the final k-th
        tq = run_theta.get(qid)
        if tq is not None:
            bound = _query_bound(q, term_stats)
            # strict less-than with a float-safety margin (one micro quantum
            # under micro_rank so micro ties are never skippable): skipped
            # work, never results
            margin = 1e-9 * max(1.0, abs(tq)) + (1e-6 if micro_rank else 0.0)
            if bound is not None and bound < tq - margin:
                evals[1] += 1
                continue
        survivors.append((qid, q, present))

    def emit(qid: int, docs_sel: np.ndarray, scores_sel: np.ndarray) -> None:
        # offsets → doc ids; collect() makes the one top-k cut
        collect(
            qid,
            (docs_sel + lo if id_map is None else id_map[docs_sel]).astype(np.int64),
            scores_sel,
        )

    if len(survivors) >= 32:
        # matrix path for large query sets: one dgemm per query block
        # replaces thousands of per-query span-length numpy passes (BLAS is
        # cache-blocked; the r2 per-query vector adds saturated the memory
        # bus and anti-scaled at high core counts).  BLAS itself is pinned
        # to 1 thread per worker (session._WORKER_THREAD_PINS) so tasks
        # never oversubscribe cores with nested OMP pools.
        terms_list = list(term_dense)
        t_index = {t: i for i, t in enumerate(terms_list)}
        D = np.stack([term_dense[t][0] for t in terms_list])  # T x span
        # TWO-PHASE cut (bandwidth): the span-wide matmul + mask + k-th-
        # partition passes run in float32 — HALF the bytes of the kernel's
        # dominant passes — with the cut threshold lowered by a rigorous
        # rounding-error bound, then only the surviving ≈k docs per query
        # are re-scored EXACTLY in float64 before emit().  Soundness: for
        # row r the f32 score s32 satisfies |s32 − s64| ≤
        # γ·Σ_t|W[r,t]|·max|D_t| (standard summation bound, γ = 2·T·eps32),
        # so any doc whose exact score ties or beats the exact k-th has
        # s32 ≥ kth32 − 2·err_r; cutting at that threshold keeps every such
        # doc, and collect()'s exact lexsort (on f64 scores) does the final
        # ranking — f32 never decides an ORDER, only a superset.
        # float32 for the presence-count matmul too: counts are small
        # integers (≤ n_terms ≤ 2^24), exactly representable
        D32 = D.astype(np.float32)
        d_absmax = np.abs(D).max(axis=1)  # (T,) for the error bound
        P = np.stack([term_dense[t][1] for t in terms_list]).astype(np.float32)
        for blk in range(0, len(survivors), 256):  # bound temp memory
            part = survivors[blk : blk + 256]
            nq = len(part)
            W = np.zeros((nq, len(terms_list)))
            B = np.zeros((nq, len(terms_list)), np.float32)
            need = np.empty(nq, np.float32)
            conj = np.empty(nq, bool)
            for r, (qid, q, present) in enumerate(part):
                for t in present:
                    w, idf = q["terms"][t]
                    W[r, t_index[t]] = w * idf
                    B[r, t_index[t]] = 1.0
                need[r] = q["n_terms"]
                conj[r] = q["mode"] == CONJUNCTIVE
            scores = W.astype(np.float32) @ D32
            counts = B @ P  # small-int floats: exact comparisons
            sel_rows = np.where(conj[:, None], counts == need[:, None], counts > 0)
            # per-row f32 rounding-error bound (see comment above)
            err_row = (2.0 * len(terms_list) * np.finfo(np.float32).eps) * (
                np.abs(W) @ d_absmax
            )
            # candidate cut on the EXACT float score (one full-matrix pass):
            # row-wise k-th largest, candidates = all >= it.  Under
            # micro_rank the threshold drops by one micro quantum (+ float-
            # safety) so every doc that could still TIE the k-th micro key
            # survives into collect(), whose exact micro lexsort makes the
            # cut — sound because micro is monotone, so the k-th micro key
            # equals micro(k-th exact score), and s ≤ t - 1e-6 implies
            # micro(s) < micro(t).  (The former full-matrix _micro_i64 pass
            # was one of ~6 span-wide passes per block of a memory-
            # bandwidth-bound kernel.)
            # mask IN PLACE: non-selected cells become -inf inside the f32
            # scores matrix itself, avoiding a second full-width matrix
            # allocation + write
            np.copyto(scores, -np.inf, where=~sel_rows)
            masked = scores
            if span > k:
                kth = np.partition(masked, span - k, axis=1)[:, span - k]
            else:
                kth = np.full(nq, -np.inf, np.float32)
            # threshold = f32 k-th − 2·err (covers both the k-th's own error
            # and a candidate's), − one micro quantum under micro_rank so
            # micro ties survive into collect()
            thr = kth.astype(np.float64) - 2.0 * err_row
            if micro_rank:
                thr -= 1e-6 + 1e-9 * np.maximum(1.0, np.abs(kth))
            for r, (qid, q, present) in enumerate(part):
                cand = np.flatnonzero(sel_rows[r] & (masked[r] >= thr[r]))
                if len(cand):
                    # EXACT f64 re-score of the ≈k survivors only
                    emit(qid, cand, _exact_scores(q, present, term_dense, cand))
    else:
        for qid, q, present in survivors:
            cnt = sum(term_dense[t][1] for t in present)
            keep = cnt == q["n_terms"] if q["mode"] == CONJUNCTIVE else cnt > 0
            docs_sel = np.flatnonzero(keep)
            if len(docs_sel):
                emit(qid, docs_sel, _exact_scores(q, present, term_dense, docs_sel))


def _batch_walk_shard(
    pdf: pd.DataFrame,
    qs: dict,
    accs: tuple | None,
    avg_doc_len: float,
    k: int,
    micro_rank: bool,
) -> pd.DataFrame:
    """Walk ONE shard's buckets in ascending doc order keeping a per-query
    RUNNING top-k (see wand_topk_batch's n_shards paragraph); emits ≤k rows
    per query for the final merge window.  ``accs``: optional (total,
    skipped) Spark accumulators, each added to once per task."""
    qitems = list(qs.items())
    evals = [0, 0]
    # per-query running top-k across this shard's buckets (the kept ≤k
    # merged with each bucket's matches, one cut) + running θ once k
    # results exist
    cand: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    run_theta: dict[int, float] = {}

    def collect(qid: int, docs_sel: np.ndarray, scores_sel: np.ndarray) -> None:
        prev = cand.get(qid)
        if prev is not None:
            docs_sel = np.concatenate([prev[0], docs_sel])
            scores_sel = np.concatenate([prev[1], scores_sel])
        if len(docs_sel) > k:
            rank_key = _micro_i64(scores_sel) if micro_rank else scores_sel
            order = np.lexsort((docs_sel, -rank_key))[:k]
            docs_sel, scores_sel = docs_sel[order], scores_sel[order]
        cand[qid] = (docs_sel, scores_sel)
        if len(docs_sel) >= k:
            run_theta[qid] = float(scores_sel.min())

    for _, bpdf in pdf.groupby("bucket", sort=True):
        _batch_score_bucket(
            bpdf, qitems, run_theta, collect, evals, avg_doc_len, k, micro_rank
        )
    if accs is not None:
        accs[0].add(evals[0])
        accs[1].add(evals[1])
    if not cand:
        return pd.DataFrame({c: [] for c in _BATCH_EMPTY}).astype(_BATCH_EMPTY)
    out_q, out_d, out_s = [], [], []
    for qid, (d, s) in cand.items():
        out_q.append(np.full(len(d), qid, np.int32))
        out_d.append(d)
        out_s.append(s)
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d).astype(np.int64),
            "score": np.concatenate(out_s),
        }
    )


def _list_size(lexicon, rows) -> tuple[dict[str, int], int]:
    """The placement gate's inputs for a query LIST, known before any job
    runs: the lexicon df of each vocabulary term and the number of
    queries."""
    dfs = _lexicon_dfs(lexicon, sorted({r["term"] for r in rows}))
    return dfs, len({r["query_id"] for r in rows})


def _on_driver(dfs: dict[str, int], n_queries: int) -> bool:
    """Whether a query list of these sizes scores on the driver (the gate
    described at _DRIVER_MAX_DF)."""
    sum_df = sum(dfs.values())
    return sum_df <= _DRIVER_MAX_DF and sum_df * n_queries <= _DRIVER_MAX_WORK


def _list_queries(rows, dfs, n_docs):
    """The query dicts of both list placements: idf per term, the
    sorted-term query dicts and the signature dedup.  Returns
    (representative query dicts, (rep, member qid) pairs)."""
    # the one idf definition (bm25.py: Python libm, never JVM F.log),
    # computed once per DISTINCT term, not once per (query, term) row
    idf_by_term = {t: bm25_idf_py(df, n_docs) for t, df in dfs.items()}
    # (query_id, term) order: each query's terms insert sorted, as in the
    # DataFrame ingest (see _BATCH_CAND_SCHEMA)
    all_queries: dict[int, dict] = {}
    for r in sorted(rows, key=lambda r: (int(r["query_id"]), r["term"])):
        q = all_queries.setdefault(
            int(r["query_id"]), {"mode": r["mode"], "n_terms": int(r["n_terms"]), "terms": {}}
        )
        q["terms"][r["term"]] = (float(r["weight"]), idf_by_term[r["term"]])
    # signature dedup: real batch workloads repeat queries (retries, head
    # queries, templated expansions) — identical (mode, weighted term bag)
    # signatures are evaluated ONCE; the representative is the smallest qid
    # so output is deterministic.
    group_of: dict[int, list[int]] = {}
    _sig_rep: dict[tuple, int] = {}
    for qid in sorted(all_queries):
        q = all_queries[qid]
        sig = (q["mode"], q["n_terms"], tuple(sorted(q["terms"].items())))
        rep = _sig_rep.setdefault(sig, qid)
        group_of.setdefault(rep, []).append(qid)
    reps = {qid: all_queries[qid] for qid in group_of}
    members = [(rep, qid) for rep, qids in group_of.items() for qid in qids]
    return reps, members


def _local_files(blocks: DataFrame) -> list[str] | None:
    """The files Spark itself scans for ``blocks`` if its optimized plan is
    a bare unpartitioned parquet relation on ``file:`` paths, else None (a
    cached plan is an InMemoryRelation whose inputFiles() is []).  The
    answer costs 10-35 ms of py4j, so it is cached per DataFrame object."""
    with _CACHE_LOCK:
        if blocks in _FILES_CACHE:
            return _FILES_CACHE[blocks]
    plan, files = blocks._jdf.queryExecution().optimizedPlan(), None
    rel = plan.relation() if plan.getClass().getSimpleName() == "LogicalRelation" else None
    uris = list(blocks.inputFiles()) if rel is not None else []
    if uris and all(u.startswith("file:") for u in uris) and (
        rel.getClass().getSimpleName() == "HadoopFsRelation"
        and rel.fileFormat().getClass().getSimpleName() == "ParquetFileFormat"
        and rel.partitionSchema().isEmpty()
    ):
        files = [unquote(urlparse(u).path) for u in uris]
    with _CACHE_LOCK:
        return _FILES_CACHE.setdefault(blocks, files)


def _driver_topk(blocks, vocab, reps, members, walk, micro_rank):
    """Driver placement of a small query list: the IN-list-pruned blocks
    (:func:`_local_files` read in-process, else one Arrow scan job), the
    shard kernel over them as ONE shard, the merge window's ranking in
    pandas, and the rows replicated to every member query id.  The result
    is a DataFrame over a pyarrow Table, so collecting it runs no job."""
    spark = blocks.sparkSession
    files = _local_files(blocks)
    if files is None:
        pdf = blocks.filter(F.col("term").isin(vocab)).select(_KERNEL_COLS).toPandas()
    else:
        in_vocab = ds.field("term").isin(pa.array(vocab, pa.string()))
        pdf = ds.dataset(files).to_table(columns=_KERNEL_COLS, filter=in_vocab).to_pandas()
    cands = walk(pdf, reps)
    # the Spark merge window's key: (micro) score desc, doc_id asc
    score = cands["score"].to_numpy()
    key = _micro_i64(score) if micro_rank else score
    order = np.lexsort((cands["doc_id"].to_numpy(), -key, cands["query_id"].to_numpy()))
    ranked = cands.iloc[order]
    ranked = ranked.assign(rank=(ranked.groupby("query_id").cumcount() + 1).astype(np.int32))
    out = (
        pd.DataFrame(members, columns=["rep", "query_id"])
        .astype(np.int32)
        .merge(ranked.rename(columns={"query_id": "rep"}), on="rep")
    )
    out = out.sort_values(["query_id", "rank"])[list(_TOPK_SCHEMA.names)]
    table = pa.Table.from_pandas(out, preserve_index=False)
    return spark.createDataFrame(table, schema=_TOPK_SCHEMA)


def _rows_ingest(blocks, vocab, reps, members, shard, walk):
    """Spark placement of a query LIST: the representative query dicts are
    broadcast to every shard task.  Returns (candidates, rep->member
    mapping or None)."""
    spark = blocks.sparkSession
    bq = spark.sparkContext.broadcast(reps)
    sel = blocks.filter(F.col("term").isin(vocab)).withColumn("shard", shard)

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        return walk(pdf, bq.value)

    cands = sel.groupBy("shard").applyInPandas(per_shard, schema=_BATCH_CAND_SCHEMA)
    if len(members) == len(reps):
        return cands, None  # no duplicate signatures
    mapping = spark.createDataFrame(members, "rep int, query_id int")
    return cands, F.broadcast(mapping)


def _frame_ingest(blocks, lexicon, qterms, n_docs, n_shards, shard, walk):
    """Relational ingest of a query DATAFRAME: nothing reaches the driver,
    so batch size is bounded by cluster memory.  Returns (candidates,
    rep->member mapping)."""
    spark = blocks.sparkSession
    qcols = qterms.select("query_id", "mode", "n_terms", "term", "weight")
    terms = qcols.select("term").distinct()
    # df per distinct term (absent terms keep df=0 — they contribute no
    # blocks but still count toward conjunctive n_terms)
    tdf = terms.join(lexicon.select("term", "df"), "term", "left").na.fill({"df": 0})

    @F.pandas_udf("double")
    def idf_udf(dfc: pd.Series) -> pd.Series:
        return pd.Series([bm25_idf_py(int(x), n_docs) for x in dfc], dtype="float64")

    q = qcols.join(tdf.select("term", idf_udf(F.col("df")).alias("idf")), "term")
    # signature dedup as a relational aggregation: rep = min(query_id) per
    # (mode, n_terms, sorted weighted-term bag) — the list ingest's grouping
    # and representative
    sig = qcols.groupBy("query_id").agg(
        F.first("mode").alias("mode"),
        F.first("n_terms").alias("n_terms"),
        F.sort_array(F.collect_list(F.struct("term", "weight"))).alias("bag"),
    )
    groups = sig.groupBy("mode", "n_terms", "bag").agg(
        F.min("query_id").alias("rep"),
        F.collect_list("query_id").alias("members"),
    )
    mapping = groups.select("rep", F.explode("members").alias("query_id"))
    rep_terms = q.join(groups.select(F.col("rep").alias("query_id")), "query_id", "left_semi")
    # each shard receives every rep query by an explicit crossJoin with the
    # shard ids, cogrouped with the doc-sharded index: a
    # (|rep terms| x n_shards)-row shuffle instead of a driver broadcast
    shards = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    qsh = rep_terms.crossJoin(shards)
    # vocabulary pruning by semi join: the vocab is a relation here
    sel = blocks.join(terms, "term", "left_semi").withColumn("shard", shard)

    def per_shard(idx_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if idx_pdf.empty or q_pdf.empty:
            return pd.DataFrame({c: [] for c in _BATCH_EMPTY}).astype(_BATCH_EMPTY)
        qs: dict[int, dict] = {}
        for t in q_pdf.sort_values(["query_id", "term"]).itertuples(index=False):
            qq = qs.setdefault(
                int(t.query_id), {"mode": t.mode, "n_terms": int(t.n_terms), "terms": {}}
            )
            qq["terms"][t.term] = (float(t.weight), float(t.idf))
        return walk(idx_pdf, qs)

    cands = (
        sel.groupBy("shard")
        .cogroup(qsh.groupBy("shard"))
        .applyInPandas(per_shard, schema=_BATCH_CAND_SCHEMA)
    )
    # a plain join: the mapping can be as big as the batch (AQE broadcasts
    # it when it is small)
    return cands, mapping


def wand_topk_batch(
    blocks: DataFrame,
    lexicon: DataFrame,
    qterms: DataFrame | list,
    n_docs: int,
    avg_doc_len: float,
    k: int = TOP_K,
    stats_out: dict | None = None,
    micro_rank: bool = False,
    n_shards: int | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score): DOC-PARTITIONED evaluation of a
    query batch — one query or 10^6 — over the compressed index.

    Co-locating each query's blocks instead (join blocks to queries,
    shuffle by query_id) DUPLICATES every shared block payload once per
    query (measured: that shuffle, not scoring, dominated past ~10^3
    queries/batch).  Here the vocabulary-pruned index subset is shuffled
    ONCE, partitioned by doc-range shard; every shard receives the query
    set (tiny: terms, weights, idfs), decodes each matched term ONCE per
    bucket and scores ALL queries against the decoded arrays
    (decode-once-score-many); a final window top-k merges the shards.
    Shuffle volume is the pruned index subset + k rows per (query, shard)
    — payload bytes never fan out with Q.  This is classic
    document-sharded search: each shard answers every query over its doc
    range.

    The batch's FORM and size pick where it is scored (PLANS §2b-ii):

    * a driver-side list of dicts/Rows (:func:`query.query_term_rows`):
      df/idf, signature dedup and the query dicts are built on the driver.
      Its sizes pick the placement before any job runs: when the Σ lexicon
      df of its vocabulary is at most ``_DRIVER_MAX_DF`` and that Σ ×
      its queries at most ``_DRIVER_MAX_WORK`` (module constants set by
      the committed placement sweep), the call scores on the DRIVER,
      INSIDE the call (eagerly), and returns a DataFrame over the ranked
      rows, so collecting it runs no job.  A bare local parquet
      ``blocks`` table is read from its files (no Spark job); a filtered,
      unioned, computed or cached frame, or an HDFS/S3 table, is one
      pruned Arrow scan job.  ``n_shards`` has no effect there, and the
      rows are the ones any ``n_shards`` gives.  A malformed index
      (overlapping blocks) therefore raises ``ValueError`` from the call
      itself there, where the shard plans raise ``PythonException`` at the
      action.  A list above either cap has its query dicts broadcast to
      the shard tasks;
    * a DataFrame with the ``QUERY_TERMS_SCHEMA`` columns
      (:func:`query.query_terms_df`, or any relation): nothing is
      collected and no job runs before an action.  DISTINCT terms
      left-join the lexicon, idf comes from an Arrow UDF over distinct
      terms (the one libm definition, bm25.bm25_idf_py — never JVM
      F.log); signature dedup is two shuffle aggregations; representative
      queries crossJoin the shard ids and are COGROUPED with the
      doc-sharded index.

    Every way, identical (mode, weighted term bag) signatures are
    evaluated ONCE (representative = smallest query_id) and the ranked
    result is joined back to every member query_id, and every shard runs
    the same kernel (:func:`_batch_walk_shard`) on the same sorted-term
    query dicts — so all three return bit-identical rows
    (tests/test_wand.py::test_batch_distributed_rank_identity,
    ::test_list_placements_bit_identical).

    Exactness: a doc lives in exactly ONE bucket (bucket = doc_id range),
    so per-bucket scoring is complete per doc (conjunctive count filters
    stay correct) and the global top-k is a merge of per-bucket top-k.
    Rank-identical to the exhaustive :func:`query.topk` and the oracles
    (cross-tested).

    ``stats_out`` (optional dict) receives two accumulators:
    ``query_evals_total`` counts the (query, bucket) pairs where the query
    matches the bucket's terms — the evaluations the running θ considered
    — and ``query_evals_skipped`` those it skipped.  Each task counts
    locally and adds once; read ``.value`` after an action
    (task-retry-approximate, evidence only).  Without ``stats_out`` no
    accumulator is created.

    ``micro_rank=True`` truncates each shard's local top-k on the
    micro-rounded key (round(score*1e6) half-away, desc, doc_id asc) —
    a TOTAL order, so exactly k rows per shard suffice for any consumer
    that re-ranks on the micro score (the driver entries) with no tie
    slack; the θ-skip margin widens to one micro quantum so skipping can
    never drop a doc that ties at micro resolution.  Emitted scores stay
    exact doubles either way.

    SHARD grouping (``n_shards``, default = spark.sql.shuffle.partitions;
    the driver placement walks every bucket as one shard):
    buckets are grouped by ``bucket mod n_shards`` and one task walks its
    buckets in ascending doc order keeping a per-query RUNNING top-k, so

    * the final merge window receives k rows per (query, shard) instead of
      per (query, bucket) — merge-shuffle volume is O(Q·k·shards), constant
      in corpus size (at 10^4+ buckets the per-bucket emit was the
      dominant shuffle);
    * each query's running k-th-best score is a sound in-task θ: later
      buckets in the shard whose metadata bound falls below it skip their
      dense evaluation with NO extra Spark jobs (the distributed analog of
      the reference's single-threaded heap threshold tightening as it
      streams doc ranges, hw3/DataLoader.cpp:636-671).  This is the only
      bound skip.  Sound because the running θ is the k-th best ACHIEVED
      score; visit order only affects how fast it tightens, and the
      float/micro margins make ties unskippable.  Fewer shards mean longer
      walks and more skipping (``n_shards=1`` walks every bucket in one
      task), at the cost of parallelism.
    """
    spark = blocks.sparkSession
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    shard = F.pmod(F.col("bucket"), F.lit(int(n_shards)))
    accs = None
    if stats_out is not None:
        sc = spark.sparkContext
        accs = (sc.accumulator(0), sc.accumulator(0))
        stats_out["query_evals_total"], stats_out["query_evals_skipped"] = accs

    def walk(pdf: pd.DataFrame, qs: dict) -> pd.DataFrame:
        return _batch_walk_shard(pdf, qs, accs, avg_doc_len, k, micro_rank)

    if isinstance(qterms, DataFrame):
        cands, mapping = _frame_ingest(
            blocks, lexicon, qterms, n_docs, int(n_shards), shard, walk
        )
    else:
        dfs, n_queries = _list_size(lexicon, qterms)
        reps, members = _list_queries(qterms, dfs, n_docs)
        if _on_driver(dfs, n_queries):
            return _driver_topk(blocks, list(dfs), reps, members, walk, micro_rank)
        cands, mapping = _rows_ingest(blocks, list(dfs), reps, members, shard, walk)
    rank_col = (
        F.round(F.col("score") * 1e6, 0).cast("long") if micro_rank else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(rank_col), F.asc("doc_id"))
    ranked = (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    if mapping is None:
        return ranked
    return (
        ranked.withColumnRenamed("query_id", "rep")
        .join(mapping, "rep")
        .select("query_id", "rank", "doc_id", "score")
    )
