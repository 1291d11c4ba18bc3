"""Bucketed table layout — the storage side of the repo's recurring scale
claim. PLANS.md and the operator docstrings repeatedly say "with both
sides bucket-partitioned on url-hash this join needs no shuffle"; this
module is that layout made concrete, and tests/test_bucketing.py pins the
plan: a join of two co-bucketed tables runs with ZERO Exchange nodes.

Why it matters at 10^12 docs: the extraction job already partitions by
url-hash bucket (plans/extract_job.py) — writing its output bucketed BY
THE SAME KEY means every downstream url-keyed operation (recrawl delta's
epoch join, the frontier anti-join, dedup's keep-first, incremental
top-ups) reads pre-shuffled data. The shuffle that dominates a
100 TB join simply never happens; Spark plans a SortMergeJoin whose
children are the bucketed scans themselves. Bucket count is fixed at
write time — size it to the TARGET scale's per-task budget (buckets ≈
table_bytes / 256 MiB), not the current one, because changing it later
means rewriting the table.

The same idea ships on Iceberg as a hidden `bucket(N, url)` partition
transform + storage-partitioned joins; the saveAsTable form here is the
engine-native equivalent the sandbox can execute and plan-assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int) -> None:
    """Persist ``df`` hash-bucketed and sorted by ``key``: co-bucketed
    readers join shuffle-FREE (plan-asserted zero Exchange). A local
    in-partition Sort remains above each scan — Spark 3+ does not
    report output ordering from bucketed scans because a bucket may
    span several per-task files whose concatenation is unsorted — but
    that sort is linear, spill-local, and never crosses the network;
    the O(table) Exchange is what the layout eliminates."""
    (df.write.format("parquet").mode("overwrite")
       .bucketBy(n_buckets, key).sortBy(key)
       .saveAsTable(table))


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
