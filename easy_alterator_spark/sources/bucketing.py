"""Bucketed-table helpers: co-located joins without a shuffle.

At 100 TB the shuffle for a fact-fact join (lineitem x orders on
orderkey) dominates the query. Writing both sides bucketed by the join
key with the same bucket count lets Spark prove both children already
satisfy the join's distribution — the SortMergeJoin runs with ZERO
Exchange nodes (verified by tests/test_bucketing.py against the plan).

Bucketing is a write-time investment: one shuffle at ingest buys every
subsequent join/aggregation on that key. The same discipline applies
to repeated `groupBy(key)` workloads (bucket pruning + no exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sorted) catalog table.

    Sorting within buckets lets SortMergeJoin skip its sort too —
    scan -> join directly.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)

