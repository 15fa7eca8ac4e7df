"""Blocked compressed index as a DataFrame — build + decode.

Reference equivalents: the block writer Lexicon::WriteBlocks
(hw3/Lexicon.cpp:65-219) and the query-side block reader/decoder
(hw3/DataLoader.cpp:316-365,591-634).  There, a single thread streams one
sorted text file; here, the build is one shuffle keyed by (term, bucket) into
a grouped vectorized pandas UDF.

Skew design (north_rule: "salted repartitioning for skewed terms like
'if'/'return'"): a stopword-class term at 10^12-file scale has ~10^11
postings — no single task may materialize that list.  ``bucket =
doc_id // bucket_span`` splits every term's list into doc_id-disjoint ranges,
so groups are bounded by bucket_span regardless of term frequency, every
group encodes independently (chunks reset their delta base, codec.py), and
concatenating buckets in bucket order reproduces the full list.  This is the
distributed analog of the reference's multi-block long lists
(hw3/Lexicon.cpp:246-250).  Within-bucket order is guaranteed by a pandas
sort inside the UDF (cheap: bounded group).

The resulting ``postings_index`` table is partition-pruned at query time by
``term`` (and optionally bucket ranges) — the Spark twin of the reference's
lexicon offset + mmap random access (hw3/DataLoader.cpp:316-365).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import decode_block, encode_postings

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n_postings", T.IntegerType(), False),
        T.StructField("n_chunks", T.IntegerType(), False),
        T.StructField("last_doc_ids", T.ArrayType(T.LongType()), False),
        T.StructField("docid_sizes", T.ArrayType(T.IntegerType()), False),
        T.StructField("tf_sizes", T.ArrayType(T.IntegerType()), False),
        T.StructField("dl_sizes", T.ArrayType(T.IntegerType()), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("max_tf_norm", T.DoubleType(), False),
        T.StructField("min_tf_norm", T.DoubleType(), False),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("doc_len", T.LongType(), False),
    ]
)


def build_block_index(
    postings: DataFrame,
    avg_doc_len: float,
    bucket_span: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """postings (doc_id, term, tf, doc_len) -> blocked compressed index.

    bucket_span=None encodes each term in one group (exact reference chunk
    geometry — use at test scale); set it (e.g. 1<<20) to bound group memory
    at cluster scale.

    Physical shape: ONE shuffle (repartition by (term, bucket) +
    sort-within-partition by (term, bucket, doc_id)) feeding a *streaming*
    ``mapInPandas`` encoder that walks group boundaries inside each Arrow
    batch with numpy — not ``applyInPandas``, which pays a per-group Python
    round-trip and collapses on long-tail vocabularies (a source-code
    corpus has ~1 unique identifier per doc → millions of 1-posting
    groups).  A group split across Arrow batch boundaries is carried over
    as a pending tail; sorted order makes the carry exact.
    """
    spark = postings.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if bucket_span is None:
        with_bucket = postings.withColumn("bucket", F.lit(0).cast("long"))
    else:
        with_bucket = postings.withColumn(
            "bucket", (F.col("doc_id") / F.lit(bucket_span)).cast("long")
        )
    parted = with_bucket.repartition(num_partitions, "term", "bucket").sortWithinPartitions(
        "term", "bucket", "doc_id"
    )

    cols = [f.name for f in BLOCKS_SCHEMA.fields]

    def _encode_run(term: str, bucket: int, doc_ids, tfs, dls, out: dict) -> None:
        blocks = encode_postings(
            np.asarray(doc_ids, np.int64),
            np.asarray(tfs, np.int64),
            np.asarray(dls, np.int64),
            avg_doc_len,
        )
        for b in blocks:
            out["term"].append(term)
            out["bucket"].append(bucket)
            out["block_id"].append(b.block_id)
            out["n_postings"].append(b.n_postings)
            out["n_chunks"].append(len(b.last_doc_ids))
            out["last_doc_ids"].append(b.last_doc_ids.tolist())
            out["docid_sizes"].append(b.docid_sizes.tolist())
            out["tf_sizes"].append(b.tf_sizes.tolist())
            out["dl_sizes"].append(b.dl_sizes.tolist())
            out["payload"].append(b.payload)
            out["max_tf_norm"].append(b.max_tf_norm)
            out["min_tf_norm"].append(b.min_tf_norm)

    def encode_stream(batches):
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if len(pdf) == 0:
                continue
            terms = pdf["term"].to_numpy()
            buckets = pdf["bucket"].to_numpy()
            # group start indices in the sorted batch
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
            starts = np.flatnonzero(change)
            # the last group may continue into the next batch — carry it
            pend = pdf.iloc[starts[-1] :]
            body_starts = starts[:-1]
            if len(body_starts) == 0:
                continue
            doc_ids = pdf["doc_id"].to_numpy(np.int64)
            tfs = pdf["tf"].to_numpy(np.int64)
            dls = pdf["doc_len"].to_numpy(np.int64)
            out: dict = {c: [] for c in cols}
            bounds = np.append(body_starts, starts[-1])
            for i in range(len(body_starts)):
                s, e = bounds[i], bounds[i + 1]
                _encode_run(terms[s], int(buckets[s]), doc_ids[s:e], tfs[s:e], dls[s:e], out)
            yield pd.DataFrame(out)
        if pend is not None and len(pend):
            out = {c: [] for c in cols}
            _encode_run(
                pend["term"].iloc[0],
                int(pend["bucket"].iloc[0]),
                pend["doc_id"].to_numpy(np.int64),
                pend["tf"].to_numpy(np.int64),
                pend["doc_len"].to_numpy(np.int64),
                out,
            )
            yield pd.DataFrame(out)

    return parted.mapInPandas(encode_stream, schema=BLOCKS_SCHEMA)


def decode_block_index(blocks: DataFrame) -> DataFrame:
    """Inverse of build: blocked index -> (term, doc_id, tf, doc_len).

    mapInPandas (narrow, no shuffle); used for round-trip verification and as
    the decode stage of the compressed query path.
    """

    def decode(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                doc_ids, tfs, dls = decode_block(
                    bytes(r.payload),
                    np.asarray(r.docid_sizes),
                    np.asarray(r.tf_sizes),
                    np.asarray(r.dl_sizes),
                )
                outs.append(
                    pd.DataFrame(
                        {
                            "term": r.term,
                            "doc_id": doc_ids,
                            "tf": tfs.astype(np.int32),
                            "doc_len": dls,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return blocks.mapInPandas(decode, schema=DECODED_SCHEMA)


def lexicon_from_blocks(blocks: DataFrame) -> DataFrame:
    """(term, df, n_blocks): the reference lexicon's docNum/blockNum
    (hw3/Lexicon.h:3-11) recomputed from the index itself."""
    return blocks.groupBy("term").agg(
        F.sum("n_postings").cast("long").alias("df"),
        F.count("*").cast("int").alias("n_blocks"),
    )


def index_size_stats(blocks: DataFrame) -> dict:
    """Compressed-size accounting (BASELINE.md index-size rows)."""
    row = blocks.agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.length("payload")).alias("payload_bytes"),
        F.sum("n_postings").alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
    ).collect()[0]
    return {k: int(row[k]) for k in ("n_blocks", "payload_bytes", "n_postings", "n_terms")}
