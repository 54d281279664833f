"""Physical-plan audit helpers.

Plan quality is a correctness concern at 100 TB: a filter that stops
pushing down or a dimension join that silently flips from broadcast to
sort-merge changes the cost class of a query without changing its
results. These helpers turn `.explain()` output into assertions so
tests lock the plan shape, not just the values.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan(df: DataFrame) -> str:
    """Final AQE plan — runtime-only features (ReusedExchange, skew
    splits, coalesced reads) appear here, not in the static explain.

    NB: must execute THIS DataFrame's queryExecution — a `.count()`
    builds a different execution and leaves this plan unfinalized."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(plan: str) -> list[str]:
    """Every PushedFilters entry across all scans, flattened. Filters
    are `Name(args)` terms — split on the term regex, not on commas
    (argument lists contain commas)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(re.findall(r"\w+\([^()]*\)", m.group(1)))
    return out

def read_schemas(plan: str) -> list[str]:
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def join_counts(plan: str) -> dict[str, int]:
    return {
        kind: plan.count(kind)
        for kind in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    }


def exchange_count(plan: str) -> int:
    """Number of real shuffles (Exchange nodes, excluding reuse)."""
    return len(re.findall(r"\bExchange\b", plan)) - plan.count("ReusedExchange")


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    plan = formatted_plan(df)
    assert any(
        fragment.lower() in f.lower() for f in pushed_filters(plan)
    ), f"filter {fragment!r} not pushed; pushed={pushed_filters(plan)}"


def assert_reads_only(df: DataFrame, table_marker: str, allowed: set[str]) -> None:
    """Column pruning: the scan whose ReadSchema mentions table_marker
    must read a subset of `allowed` columns."""
    plan = formatted_plan(df)
    for schema in read_schemas(plan):
        if table_marker in schema:
            cols = set(re.findall(r"(\w+):", schema))
            assert cols <= allowed, f"scan reads {cols - allowed} beyond {allowed}"
            return
    raise AssertionError(f"no scan matching {table_marker!r} in plan")


def empty_partition_windows(df: DataFrame) -> list[str]:
    """Order specs of every Window node in the OPTIMIZED logical plan
    whose partitionSpec is EMPTY — the single-reducer global-sort
    shape that funnels its whole input through one task at scale.

    The one structurally-sanctioned empty-partition window is the
    operators/rank.py terasort decomposition's offsets window, which
    orders by the synthetic ``__pid`` partition id and therefore runs
    over ONE ROW PER PARTITION (KBs, never the data); callers filter
    those out by the ``__pid`` marker in the returned spec strings.
    """
    out: list[str] = []

    def walk(node) -> None:
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            out.append(node.orderSpec().mkString(" | "))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out
