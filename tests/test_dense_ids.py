"""Regression: dense id assignment must be collision-free and
deterministic at sizes where range-boundary sampling used to diverge
between jobs (observed: duplicate doc_ids at 60k rows with the old
repartitionByRange-based two-pass)."""

from __future__ import annotations

import os
import random
import re
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparksearch.corpus import (  # noqa: E402
    CORPUS_SCHEMA,
    DOCUMENTS_SCHEMA,
    assign_dense_ids,
    documents_from_corpus,
    reorder_documents,
    synthetic_corpus,
)


def test_dense_ids_20k(spark):
    docs = documents_from_corpus(synthetic_corpus(spark, 20_000, seed=7))
    agg = docs.agg(
        F.count("*").alias("c"),
        F.countDistinct("doc_id").alias("d"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    assert agg["c"] == agg["d"] == 20_000
    assert agg["mn"] == 0 and agg["mx"] == 19_999


def _keyed_rows(n: int = 2_000) -> list[tuple]:
    """(len_key, repo, path, commit, lang, content) rows whose zero-padded
    length key takes only five values, so most keys tie on length and
    (repo, path) decides their order."""
    rng = random.Random(3)
    rows = []
    for i in range(n):
        content = "x" * rng.choice([0, 3, 3, 7, 12])
        rows.append((f"{len(content):010d}", f"org{rng.randrange(4)}", f"src/f{i}.py", "c", "py", content))
    return rows


@pytest.mark.parametrize("seed", [7, 11])
@pytest.mark.parametrize("num_partitions", [1, 3, 16])
def test_ids_follow_sort_order(spark, num_partitions, seed):
    """Ids equal a Python sort of the length-ordered key whatever the
    bucket bounds: the partition count and sample seed move the bounds,
    never the ids."""
    rows = _keyed_rows()
    schema = T.StructType([T.StructField("len_key", T.StringType(), False), *CORPUS_SCHEMA.fields])
    df = spark.createDataFrame(rows, schema)
    ids = assign_dense_ids(df, ["len_key", "repo", "path"], num_partitions=num_partitions, seed=seed)
    got = sorted(ids.select("doc_id", "len_key", "repo", "path").collect())
    assert [r[0] for r in got] == list(range(len(rows)))
    assert [tuple(r[1:]) for r in got] == sorted(r[:3] for r in rows)


def test_id_pass_eager_jobs(spark):
    """The id pass's eager work is one sample job (the keys of smallest
    seeded hash in each input partition) and the per-bucket count (its
    shuffle map stage and result): 3 jobs."""
    schema = T.StructType([T.StructField("len_key", T.StringType(), False), *CORPUS_SCHEMA.fields])
    df = spark.createDataFrame(_keyed_rows(), schema)
    sc, group = spark.sparkContext, "dense-ids-eager-jobs"
    sc.setJobGroup(group, group)
    try:
        assign_dense_ids(df, ["len_key", "repo", "path"], num_partitions=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


def _driver_bytes(spark, group: str, action) -> int:
    """Bytes the driver receives as task results while ``action`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    return sum(
        store.lastStageAttempt(s).resultSize()
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    )


def test_id_pass_sample_bounded_at_many_partitions(spark):
    """The boundary sample sends the driver about ``num_partitions * 100``
    keys in all, not that many from every input partition: over 64 input
    partitions (the default 64 buckets), the id pass's task results hardly
    grow from 40,000 to 160,000 rows, where a per-partition top 6,400
    would send every key both times."""

    def id_pass_bytes(n: int) -> int:
        df = spark.range(0, n, 1, 64).select(
            F.format_string("%010d", F.col("id") % 5).alias("len_key"),
            F.concat(F.lit("org"), (F.col("id") % 4).cast("string")).alias("repo"),
            F.format_string("src/f%d.py", "id").alias("path"),
        )
        order = ["len_key", "repo", "path"]
        return _driver_bytes(spark, f"id-pass-{n}", lambda: assign_dense_ids(df, order))

    small, large = id_pass_bytes(40_000), id_pass_bytes(160_000)
    assert large < 1.25 * small, (small, large)


def test_reorder_plan_one_window_no_python(spark):
    """The in-build reorder runs one id pass in the plan: the (repo, path)
    ids it discards are pruned, and numbering is a built-in window, not a
    Python UDF.  The output keeps the canonical column names and types."""
    corpus = spark.createDataFrame([r[1:] for r in _keyed_rows(200)], CORPUS_SCHEMA)
    docs = reorder_documents(documents_from_corpus(corpus))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
    assert [(f.name, f.dataType) for f in docs.schema] == [
        (f.name, f.dataType) for f in DOCUMENTS_SCHEMA
    ]
