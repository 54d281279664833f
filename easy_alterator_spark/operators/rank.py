"""Exact global ranking without a single-reducer sort, and the
equi-depth histogram built on it.

``ROW_NUMBER() OVER (ORDER BY ...)`` — an empty window partition —
executes on ONE task in Spark: the whole input funnels through a
single reducer, which is the canonical 100 TB anti-pattern. The
scalable exact form is the terasort decomposition:

1. ``repartitionByRange`` on the sort key (one shuffle; partition ids
   ascend with key ranges), materialized ONCE via ``_range_tagged``
   so every consumer sees the same sampled boundaries and pid
   assignment (see its docstring — the round-9 sf0.1 sweep caught
   two executions disagreeing),
2. a per-partition local ``row_number`` (window keyed by the
   partition id),
3. a broadcast join against the 1-row-per-partition offset table
   (cumulative counts — KBs, never data-sized).

Global rank = local row_number + partition offset. Everything stays
native Columns; total cost is two data-sized exchanges and a
partition-count-sized side table, against the global window's one
exchange into a single task that never finishes at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_tagged(
    df: DataFrame, order_cols: list[Column], n: int
) -> DataFrame:
    """Range-partition on ``order_cols`` and tag rows with the
    physical partition id — MATERIALIZED ONCE via localCheckpoint.

    The pinning is load-bearing for correctness, not a cache: every
    decomposition below consumes the tagged table from two plan
    subtrees (the per-partition locals and the per-partition totals),
    and without pinning each subtree re-executes the range exchange
    independently. RangePartitioner samples its boundaries from the
    upstream data, whose row order after a hash aggregate is not
    deterministic — so the two executions can disagree on boundaries
    (and AQE may coalesce them differently), leaving local sums and
    offsets computed against DIFFERENT partitionings. That exact
    divergence was caught by the sf0.1 differential sweep in round 9
    (stats_mannwhitney cumsums drifted +88 while its sf0.01 run and
    five sibling queries happened to reuse the exchange and stayed
    consistent). localCheckpoint pins one boundary draw and one pid
    assignment for all consumers.

    Cost: one executor-memory/disk materialization of the input. The
    inputs here are distinct-value/user/vocabulary-grained in every
    registered query."""
    parts = df.repartitionByRange(int(n), *order_cols)
    return parts.withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)


def global_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append 1-based ``rank_col`` = exact global rank under
    ``order_cols`` (which must form a TOTAL order — a unique key
    tuple — for the rank to be deterministic; range partitioning
    co-locates equal keys, so with ties the ranks are stable only
    within Spark's arbitrary tie order). Entries may be Columns,
    including ``.desc()`` sort orders — the range partitioner honors
    sort direction, so partition ids still ascend with the requested
    order (the global_prefix_max device).

    Rows are assigned to ordered buckets by ``repartitionByRange`` +
    localCheckpoint pinning (:func:`_range_tagged`) — one shuffle plus
    a materialization of the input.
    """
    ranked, _counts = _ranked_and_counts(df, order_cols, rank_col, num_partitions)
    return ranked


def _ranked_and_counts(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`global_rank` body, additionally returning the
    one-row-per-partition ``(__pid, __cnt)`` counts table so callers
    that need the GLOBAL row count (ntile, equi-depth) can aggregate
    those few rows instead of re-scanning the ranked data (r11: the
    extra full pass was one whole job per ntile call — events_rfm
    runs three)."""
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    tagged = _range_tagged(df, order_cols, int(n))
    counts = tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the offsets window is global but over ONE ROW PER PARTITION —
    # KBs through a single task, not the data
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off")
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = (
        tagged.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.row_number().over(w_local) + F.col("__off"))
        .drop("__pid", "__off")
    )
    return ranked, counts


def _ntile_from_rank(rank: Column, total: Column, k: int) -> Column:
    """SQL NTILE(k) bucket from a 1-based global rank: the first
    (total % k) buckets get ceil(total/k) rows, the rest floor — the
    exact remainder distribution NTILE specifies."""
    q = F.floor(total / k)
    r = total % k
    big = r * (q + 1)
    return F.when(
        rank <= big, F.floor((rank - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((rank - 1 - big) / q) + 1)


def global_ntile(
    df: DataFrame,
    order_cols: list[str | Column],
    k: int,
    tile_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append SQL ``NTILE(k)`` bucket of each row under the TOTAL
    order ``order_cols`` — without the single-reducer sort that
    ``NTILE(k) OVER (ORDER BY ...)`` executes. Composition of
    :func:`global_rank` (two data-sized exchanges, no global funnel)
    with the exact NTILE remainder formula against a broadcast 1-row
    total. Bit-identical to SQL NTILE for any total order."""
    ranked, counts = _ranked_and_counts(df, order_cols, "__rk", num_partitions)
    # global row count from the partition-count table (rows = number
    # of range partitions), not another pass over the ranked data
    total1 = counts.agg(F.sum("__cnt").cast("long").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(total1))
        .withColumn(
            tile_col,
            _ntile_from_rank(F.col("__rk"), F.col("__n"), k).cast("int"),
        )
        .drop("__rk", "__n")
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    k: int = 16,
) -> DataFrame:
    """Exact equi-depth (equal-frequency) histogram of ``value_col``:
    k buckets of NTILE row distribution, each with row count and
    value min/max — the boundary table behind optimizer statistics
    and data-skipping layouts. ``tiebreak_cols`` must make
    (value_col, *tiebreak) a total order. Built on ``global_rank``,
    so no single-reducer sort anywhere; the only global window runs
    over one row per bucket/partition.
    """
    order_cols = [value_col, *tiebreak_cols]
    ranked, counts = _ranked_and_counts(
        df.select(*order_cols), order_cols, "rank"
    )
    total1 = counts.agg(F.sum("__cnt").cast("long").alias("__n"))
    bucket = _ntile_from_rank(F.col("rank"), F.col("__n"), k)
    return (
        ranked.crossJoin(F.broadcast(total1))
        .select(bucket.cast("int").alias("bucket"), F.col(value_col))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min(value_col), 2).alias("lo"),
            F.round(F.max(value_col), 2).alias("hi"),
        )
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str | list[str],
    prefix_col: str | list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``prefix_col`` = INCLUSIVE running sum of ``value_col``
    over the global order ``order_cols`` — without the single-reducer
    sort of ``SUM() OVER (ORDER BY ...)``. Same terasort decomposition
    as :func:`global_rank`: range-partition on the order columns, a
    local inclusive running sum inside each partition, and a broadcast
    one-row-per-partition offset table (per-partition totals,
    exclusive-prefix-summed over partition ids — the only global
    window runs over partition-count rows, never the data).

    ``value_col``/``prefix_col`` may be parallel lists to compute
    several running sums over ONE shared range partitioning (the
    two-sample ECDF shape in operators/nonparam.py).

    ``order_cols`` must be a total order per row (unique key tuple) so
    equal keys cannot straddle a range boundary; with that, the result
    is bit-identical to the SQL running sum on any engine.
    """
    vals = [value_col] if isinstance(value_col, str) else list(value_col)
    prefs = [prefix_col] if isinstance(prefix_col, str) else list(prefix_col)
    assert len(vals) == len(prefs)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    tagged = _range_tagged(df, order_cols, int(n))
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = tagged.select(
        "*", *[F.sum(v).over(w_local).alias(f"__lps_{i}")
               for i, v in enumerate(vals)]
    )
    tot = tagged.groupBy("__pid").agg(
        *[F.sum(v).alias(f"__pt_{i}") for i, v in enumerate(vals)]
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = tot.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__pt_{i}").over(w_off), F.lit(0)).alias(
                f"__ops_{i}"
            )
            for i in range(len(vals))
        ],
    )
    out = local.join(F.broadcast(offs), "__pid")
    for i, p in enumerate(prefs):
        out = out.withColumn(p, F.col(f"__lps_{i}") + F.col(f"__ops_{i}"))
    return out.drop(
        "__pid",
        *[f"__lps_{i}" for i in range(len(vals))],
        *[f"__ops_{i}" for i in range(len(vals))],
    )


def global_prefix_max(
    df: DataFrame,
    sort_exprs: list[Column],
    value_col: str,
    prefix_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``prefix_col`` = EXCLUSIVE running max of ``value_col``
    over the global sort order given by ``sort_exprs`` (NULL for the
    first row — no predecessor). Same terasort decomposition as
    :func:`global_rank`: range-partition on the sort exprs, a local
    exclusive running max inside each partition, and a broadcast
    one-row-per-partition table carrying each partition's total max,
    prefix-maxed over partition ids. The only global window runs over
    partition-count rows, never the data.

    ``sort_exprs`` may use ``.desc()`` — the range partitioner
    honors sort direction, so partition ids still ascend with the
    requested order.
    """
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    tagged = _range_tagged(df, sort_exprs, int(n))
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*sort_exprs)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = tagged.withColumn("__lpm", F.max(value_col).over(w_local))
    pmax = tagged.groupBy("__pid").agg(F.max(value_col).alias("__pm"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = pmax.select("__pid", F.max("__pm").over(w_off).alias("__opm"))
    return (
        local.join(F.broadcast(offs), "__pid")
        # greatest() skips NULLs, so a missing local or partition
        # prefix degrades to the other side; first global row -> NULL
        .withColumn(prefix_col, F.greatest("__lpm", "__opm"))
        .drop("__pid", "__lpm", "__opm")
    )
