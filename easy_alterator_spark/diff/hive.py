"""Hive-path schema diff: each DDL file is diffed inside its own row.

The reference diffs one file at a time with small pandas merges
(alterator.py:482-739). Here the catalog snapshot is folded into one
sorted array per table (:func:`with_catalog`, one ``groupBy``) and
broadcast-joined onto the parsed corpus, whose rows already carry the
DDL's ``columns`` and ``hive_partitions`` arrays. Each reference merge
is then a row-local higher-order expression over two small arrays:

- routing/dispatch        -> one ``when/otherwise`` routing column
- schema diff (J1-J4)     -> :func:`outer_pairs` on name: DDL columns vs
                             catalog data + partition columns
- add / delete            -> pairs with no catalog / no DDL side
- compatible/incompatible -> retyped pairs split by the pure-Column
                             classifier ``types.is_compatible_col``
- partition check (J9)    -> ``outer_pairs`` on (pos, name) for the
                             missing/retyped flags, name filters both
                             ways for the order-only (h_extra/c_extra)
                             test

Each list is ``array_sort(struct(o, p))`` on source position, the
reference's pandas row order, then stripped to its payload.

Documented reference quirks preserved on purpose:

- A partition TYPE mismatch with identical name sets reports
  ``PartitionOrderValidationError`` (rule_book.py:152-155 returns
  ``names_equal`` as the order flag regardless of why the rows
  mismatched), even though the README describes type changes as
  ``PartitionValidationError``.
- ``TableNameNotExtracted`` and ``NonCreateSQL`` files land in
  *skipped* (alterator.py:525-536), though the README shows the former
  under ``errored_tables``.
- A compatible type change is applied as delete+add of the column
  (Hive REPLACE COLUMNS semantics, alterator.py:700-714).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ddl import types as TY

_CAT_T = "array<struct<is_partition:boolean,position:int,name:string,type:string,field_id:int>>"


def with_catalog(df: DataFrame, cat_cols: DataFrame) -> DataFrame:
    """``df`` plus ``cat``: its table's catalog columns as one array
    sorted by (is_partition, position), so data columns come first in
    order, then partition columns in order; empty when the snapshot has
    no rows for the table."""
    cat = cat_cols.groupBy("table_name").agg(
        F.array_sort(
            F.collect_list(F.struct("is_partition", "position", "name", "type", "field_id"))
        ).alias("cat")
    )
    return df.join(F.broadcast(cat), "table_name", "left").withColumn(
        "cat", F.coalesce("cat", F.array().cast(_CAT_T))
    )


def unmatched(xs: Column, ys: Column, match: Callable[[Column, Column], Column]) -> Column:
    """Elements of ``xs`` that match no element of ``ys`` (an anti join)."""
    return F.filter(xs, lambda x: F.size(F.filter(ys, lambda y: match(x, y))) == 0)


def outer_pairs(
    left: Column,
    right: Column,
    eq: Callable[[Column, Column], Column],
    row: Callable[[Column | None, Column | None], Column],
) -> Column:
    """Full outer join of two arrays inside one row: ``row(l, r)`` for
    every matching pair, ``row(l, None)`` / ``row(None, r)`` for the
    elements nothing matches. A NULL ``eq`` never matches, as with a
    join key."""
    return F.concat(
        F.flatten(
            F.transform(
                left,
                lambda l: F.transform(F.filter(right, lambda r: eq(l, r)), lambda r: row(l, r)),
            )
        ),
        F.transform(unmatched(left, right, eq), lambda l: row(l, None)),
        F.transform(unmatched(right, left, lambda r, l: eq(l, r)), lambda r: row(None, r)),
    )


def sorted_by(arr: Column, cond, order, payload) -> Column:
    """Payloads of the elements where ``cond`` holds, ordered by
    (``order``, payload)."""
    keyed = F.transform(
        F.filter(arr, cond), lambda x: F.struct(order(x).alias("o"), payload(x).alias("p"))
    )
    return F.transform(F.array_sort(keyed), lambda s: s["p"])


def side(x: Column | None, field: str) -> Column:
    """``x[field]``, or a string NULL for the missing side of a pair."""
    return x[field] if x is not None else F.lit(None).cast("string")


def _column_pairs(h_cols: Column, cat: Column) -> Column:
    """DDL columns outer-joined with catalog columns on name (J1-J4).

    Every catalog column, data and partition, takes part; a name
    repeated on either side pairs with every same-named column of the
    other, as in the reference's merge."""
    return outer_pairs(
        h_cols,
        cat,
        lambda h, c: h["name"] == c["name"],
        lambda h, c: F.struct(
            (h["name"] if h is not None else c["name"]).alias("Name"),
            side(h, "type").alias("type_new"),
            side(c, "type").alias("type_old"),
            side(h, "backfilled_from").alias("backfilled_from"),
            (h["pos"] if h is not None else c["position"]).alias("pos"),
        ),
    )


def _column_lists(pairs: Column) -> dict[str, Column]:
    """Add/delete/compatible/incompatible lists from the column pairs."""

    def changed(p: Column) -> Column:
        return (
            p["type_new"].isNotNull()
            & p["type_old"].isNotNull()
            & (TY.normalize_hive_type_col(p["type_new"]) != TY.normalize_hive_type_col(p["type_old"]))
        )

    def compat(p: Column) -> Column:
        return TY.is_compatible_col(p["type_old"], p["type_new"], "athena")

    def pos(p: Column) -> Column:
        return p["pos"]

    def chg(p: Column) -> Column:
        return F.struct(
            p["Name"].alias("Name"),
            p["type_old"].alias("Type"),
            p["type_new"].alias("updated_type"),
            p["backfilled_from"].alias("backfilled_from"),
        )

    # retyped pairs, each classified once
    retyped = F.transform(
        F.filter(pairs, changed),
        lambda p: F.struct(p["pos"].alias("pos"), chg(p).alias("chg"), compat(p).alias("compat")),
    )
    return {
        "add": sorted_by(
            pairs,
            lambda p: p["type_old"].isNull(),
            pos,
            lambda p: F.struct(p["Name"].alias("Name"), p["type_new"].alias("Type")),
        ),
        "delete": sorted_by(
            pairs,
            lambda p: p["type_new"].isNull(),
            pos,
            lambda p: F.struct(p["Name"].alias("Name"), p["type_old"].alias("Type")),
        ),
        "compatible": sorted_by(retyped, lambda r: r["compat"], pos, lambda r: r["chg"]),
        "incompatible": sorted_by(retyped, lambda r: ~r["compat"], pos, lambda r: r["chg"]),
    }


def _partition_check(h_parts: Column, cat: Column) -> tuple[Column, Column]:
    """(part_ok, part_reason) of one file (rule_book.py:92-158
    semantics): DDL ``PARTITIONED BY`` entries vs catalog partition
    columns, position being part of the key (J9)."""
    c_parts = F.filter(cat, lambda c: c["is_partition"])
    pairs = outer_pairs(
        h_parts,
        c_parts,
        lambda h, c: (h["pos"] == c["position"]) & (h["name"] == c["name"]),
        lambda h, c: F.struct(side(h, "type").alias("type_new"), side(c, "type").alias("type_old")),
    )
    missing = F.exists(pairs, lambda p: p["type_new"].isNull() | p["type_old"].isNull())
    retyped = F.coalesce(F.exists(pairs, lambda p: p["type_new"] != p["type_old"]), F.lit(False))

    def extra(xs: Column, ys: Column) -> Column:
        return F.size(unmatched(xs, ys, lambda x, y: x["name"] == y["name"]))

    # name-set equality (order-only change detection, A4)
    sets_equal = (extra(h_parts, c_parts) == 0) & (extra(c_parts, h_parts) == 0)
    count_mismatch = F.size(h_parts) != F.size(c_parts)
    both_empty = (F.size(h_parts) == 0) & (F.size(c_parts) == 0)
    ok = both_empty | (~count_mismatch & ~(missing | retyped))
    reason = F.when(ok, F.lit(None)).otherwise(
        # count mismatch -> order flag is False (rule_book.py:120-122);
        # otherwise the quirky names_equal flag decides
        F.when(
            ~count_mismatch & sets_equal, F.lit("PartitionOrderValidationError")
        ).otherwise(F.lit("PartitionValidationError"))
    )
    return ok, reason


def hive_diff(
    parsed: DataFrame,
    cat_cols: DataFrame,
    cat_tables: DataFrame,
    force: bool = False,
) -> DataFrame:
    """Route + diff the whole DDL corpus against the catalog snapshot.

    Args:
        parsed: output of :func:`easy_alterator_spark.ddl.parser.parse_ddl_corpus`.
        cat_cols: FIXTURES.md B2 (table_name, name, type, position,
            is_partition, field_id).
        cat_tables: FIXTURES.md B3 (table_name, table_type, format, ...).

    Returns one row per DDL file:
    (file_path, table_name, outcome, reason, add, delete, compatible,
    incompatible, format_change, requires_migration, iceberg)
    where outcome ∈ skipped|errored|new|identical|success|non_parquet|
    format_changed|iceberg. ``format_change`` may be set alongside
    outcome='iceberg' (migration tables land in both report lists,
    alterator.py:556-570). ``iceberg`` is the table's Iceberg diff
    (:func:`.iceberg.with_iceberg`) on the one file that carries it,
    the lexically last Iceberg CREATE file naming the table, and NULL
    on every other row; so this one plan, collected once, holds the
    whole report.

    The diff is keyed by file, not table: two DDL files naming the same
    table (e.g. a stray non-CREATE statement) each get their own row and
    cannot contaminate each other's lists.
    """
    from .iceberg import with_iceberg  # built on this module's helpers

    cat_t = cat_tables.select(
        "table_name",
        F.col("format").alias("cat_format"),
        F.lit(True).alias("cat_exists"),
        F.col("properties").alias("cat_props"),
    )
    # the Iceberg route: a named Iceberg CREATE file
    routed = F.col("table_name").isNotNull() & F.col("is_create") & (F.col("hql_format") == "iceberg")
    # the Iceberg diff is keyed by table: of several routed files naming
    # one table, the lexically last carries it (the Hive path is
    # file-keyed and reports each)
    last = F.max(F.when(routed, F.col("file_path"))).over(Window.partitionBy("table_name"))
    keyed = parsed.withColumn("ice_last", last)
    base = with_iceberg(
        with_catalog(keyed.join(F.broadcast(cat_t), "table_name", "left"), cat_cols),
        routed & (F.col("file_path") == F.col("ice_last")),
    )
    # NB: commented-out columns are NOT filtered here — the reference's
    # Hive column regex has no comment group (alterator.py:75-78), so a
    # `-- `col` type,` line still counts as a live column on this path
    # (commenting is an Iceberg-only concept).
    part_ok, part_reason = _partition_check(F.col("hive_partitions"), F.col("cat"))
    df = base.select(
        "file_path",
        "table_name",
        "is_create",
        "is_external",
        "hql_format",
        "cat_format",
        "cat_exists",
        "iceberg",
        _column_pairs(F.col("columns"), F.col("cat")).alias("pairs"),
        part_ok.alias("part_ok"),
        part_reason.alias("part_reason"),
    )
    df = df.select(
        "*", *[v.alias(k) for k, v in _column_lists(F.col("pairs")).items()]
    ).drop("pairs")

    has_incompat = F.size("incompatible") > 0
    has_changes = (
        (F.size("add") > 0) | (F.size("delete") > 0) | (F.size("compatible") > 0)
        | (force & has_incompat)
    )
    fmt_change = F.struct(
        F.coalesce(F.col("cat_format"), F.lit("TEXT")).alias("old_format"),
        F.upper("hql_format").alias("new_format"),
    )
    exists = F.coalesce("cat_exists", F.lit(False))

    outcome = (
        F.when(F.col("table_name").isNull(), "skipped")  # TableNameNotExtracted
        .when(~F.col("is_create"), "skipped")  # NonCreateSQL
        .when(~exists, "new")
        .when(routed, "iceberg")
        .when(
            F.col("hql_format") == "text",
            F.when(F.col("cat_format") != "TEXT", "format_changed").otherwise("non_parquet"),
        )
        .when(~F.col("is_external"), "errored")
        .when(F.col("cat_format") != "PARQUET", "format_changed")
        .when(has_incompat & F.lit(not force), "skipped")
        .when(~F.col("part_ok"), "skipped")
        .when(has_changes, "success")
        .otherwise("identical")
    )
    reason = (
        F.when(F.col("table_name").isNull(), "TableNameNotExtracted")
        .when(~F.col("is_create"), "NonCreateSQL")
        .when(
            (outcome == "skipped") & has_incompat,
            F.when(F.col("part_ok"), "IncompatibleDataTypeError").otherwise(
                "IncompatibleDataTypeAndPartitionValidationError"
            ),
        )
        .when((outcome == "skipped") & ~F.col("part_ok"), F.col("part_reason"))
    )
    # Compatible (plus, under --force, incompatible) type changes apply
    # as delete+add — but only on the success path; skipped tables
    # report the raw add/delete next to compatible/incompatible
    # (alterator.py:644-714).
    applied_chg = F.col("compatible") if not force else F.concat("compatible", "incompatible")
    add_final = F.concat(
        "add",
        F.transform(applied_chg, lambda s: F.struct(s["Name"], s["updated_type"].alias("Type"))),
    )
    del_final = F.concat(
        "delete",
        F.transform(applied_chg, lambda s: F.struct(s["Name"], s["Type"].alias("Type"))),
    )

    return df.select(
        "file_path",
        "table_name",
        outcome.alias("outcome"),
        reason.alias("reason"),
        F.when(outcome == "success", add_final).otherwise(F.col("add")).alias("add"),
        F.when(outcome == "success", del_final).otherwise(F.col("delete")).alias("delete"),
        "compatible",
        "incompatible",
        F.when(
            (outcome == "format_changed")
            | ((outcome == "iceberg") & (F.col("cat_format") != "ICEBERG")),
            fmt_change,
        ).alias("format_change"),
        ((outcome == "iceberg") & exists & (F.col("cat_format") != "ICEBERG")).alias(
            "requires_migration"
        ),
        "iceberg",
    )
