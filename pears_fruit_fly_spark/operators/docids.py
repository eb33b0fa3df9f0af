"""Deterministic dense doc-id assignment at scale.

BM25 rank identity needs a total order on documents (ties broken by doc_id
asc — SURVEY.md §7 hard parts), so ids must be deterministic across runs and
cluster sizes. monotonically_increasing_id() is partition-layout-dependent —
unusable. A single-partition row_number() window serializes 10^12 rows
through one task — unusable. And repartitionByRange is OUT because its range
boundaries come from a randomly-seeded sample: two jobs over the same lazy
plan can see different partitionings (observed: duplicate ids at 20k docs).

Scheme here is deterministic BY CONSTRUCTION — every step is a pure function
of the key value, never of physical layout:

  1. bucket  = pmod(xxhash64(key), n_buckets)            (pure function)
  2. job 1: count rows per bucket (hash agg) → driver cumsum → offsets
  3. job 2: repartition(n, bucket) → sortWithinPartitions(bucket, key) →
            id = offset[bucket] + position-within-bucket

All rows of one bucket land in one task (hash partitioning on the bucket
column) and arrive key-sorted, so position-within-bucket is well-defined no
matter how AQE lays out partitions. doc ids are dense 0..N-1, ordered by
(bucket, key) — a fixed total order, stable across runs and parallelism.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Schema of a docmap table (the assign_doc_ids output for key="url"). Readers
# pass it explicitly, so opening a docmap runs no schema-inference job.
DOCMAP_SCHEMA = "url string, doc_id long"


def assign_doc_ids(
    df: DataFrame, key: str = "url", num_buckets: int | None = None
) -> DataFrame:
    """Return (key, doc_id long): dense deterministic ids, 0-based.

    Requires key values unique (dedup first — sources.wet.dedup_latest).
    """
    spark = df.sparkSession
    n_buckets = num_buckets or max(32, spark.sparkContext.defaultParallelism * 2)
    bucketed = df.select(key).withColumn(
        "_b", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )

    counts = {
        int(r["_b"]): int(r["cnt"])
        for r in bucketed.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = StructType(
        [StructField(key, df.schema[key].dataType), StructField("doc_id", LongType())]
    )

    def _assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos: dict[int, int] = {}
        for pdf in it:
            ids = []
            for b in pdf["_b"].values:
                b = int(b)
                p = pos.get(b)
                if p is None:
                    p = b_offsets.value[b]
                ids.append(p)
                pos[b] = p + 1
            yield pd.DataFrame({key: pdf[key].values, "doc_id": ids})

    return (
        bucketed.repartition(n_buckets, "_b")
        .sortWithinPartitions("_b", key)
        .mapInPandas(_assign, out_schema)
    )
