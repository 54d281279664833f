"""Hive-path schema diff: DDL corpus vs catalog, one Spark plan.

Re-expresses the reference's per-file loop (alterator.py:482-739) as
corpus-wide joins:

- routing/dispatch      -> one ``when/otherwise`` routing column
- schema diff (J1-J4)   -> full-outer join on (table_name, name)
- type compatibility F5 -> pure-Column classifier (types.is_compatible_col)
- partition check (J9)  -> full-outer join on (table_name, pos, name)
                           + per-table aggregates

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ddl import types as TY

def _empty_nt() -> Column:
    return F.array().cast("array<struct<Name:string,Type:string>>")


def _empty_chg() -> Column:
    return F.array().cast(
        "array<struct<Name:string,Type:string,updated_type:string,backfilled_from:string>>"
    )


def _norm(t: Column) -> Column:
    """Hive comparison normalization (decimal spacing only)."""
    return TY.normalize_hive_type_col(t)


def _column_diff(hql_cols: DataFrame, cat_cols: DataFrame) -> DataFrame:
    """Per-FILE add/delete/compatible/incompatible aggregates.

    Keyed by file_path, not table_name: two DDL files may name the same
    table (e.g. a stray non-CREATE statement) and must not contaminate
    each other's diff — the reference gets this for free from its
    per-file loop; corpus-wide joins must key on the file.

    hql_cols: (file_path, pos, name, type, backfilled_from)
    cat_cols: (file_path, name, type, position)  [data + partition cols,
        already fanned out per file via the file->table mapping]
    """
    h = hql_cols.select(
        "file_path",
        F.col("name").alias("Name"),
        F.col("type").alias("type_new"),
        F.col("backfilled_from").alias("backfilled_from"),
        F.col("pos").alias("pos_new"),
    )
    c = cat_cols.select(
        "file_path",
        F.col("name").alias("Name"),
        F.col("type").alias("type_old"),
        F.col("position").alias("pos_old"),
    )
    j = h.join(c, ["file_path", "Name"], "full_outer")
    changed = (
        j["type_new"].isNotNull()
        & j["type_old"].isNotNull()
        & (_norm(j["type_new"]) != _norm(j["type_old"]))
    )
    compat = TY.is_compatible_col(F.col("type_old"), F.col("type_new"), "athena")
    per_col = j.select(
        "file_path",
        "Name",
        "type_new",
        "type_old",
        "backfilled_from",
        F.coalesce("pos_new", "pos_old").alias("pos"),
        F.col("type_old").isNull().alias("is_add"),
        F.col("type_new").isNull().alias("is_del"),
        changed.alias("is_chg"),
        (changed & compat).alias("is_compat"),
    )

    def agg_sorted(cond: Column, payload: Column) -> Column:
        """collect matching payload structs ordered by source position
        (pandas row order in the reference; Spark must carry it)."""
        arr = F.array_sort(
            F.collect_list(F.when(cond, F.struct(F.col("pos").alias("o"), payload.alias("p"))))
        )
        return F.transform(arr, lambda s: s["p"])

    return per_col.groupBy("file_path").agg(
        agg_sorted(
            F.col("is_add"),
            F.struct(F.col("Name"), F.col("type_new").alias("Type")),
        ).alias("add"),
        agg_sorted(
            F.col("is_del"),
            F.struct(F.col("Name"), F.col("type_old").alias("Type")),
        ).alias("delete"),
        agg_sorted(
            F.col("is_chg") & F.col("is_compat"),
            F.struct(
                F.col("Name"),
                F.col("type_old").alias("Type"),
                F.col("type_new").alias("updated_type"),
                F.col("backfilled_from"),
            ),
        ).alias("compatible"),
        agg_sorted(
            F.col("is_chg") & ~F.col("is_compat"),
            F.struct(
                F.col("Name"),
                F.col("type_old").alias("Type"),
                F.col("type_new").alias("updated_type"),
                F.col("backfilled_from"),
            ),
        ).alias("incompatible"),
    )


def _partition_check(hql_parts: DataFrame, cat_parts: DataFrame) -> DataFrame:
    """Per-table partition validation (rule_book.py:92-158 semantics).

    hql_parts: (file_path, pos, name, type) from PARTITIONED BY
    cat_parts: (file_path, name, type, position) where is_partition
    Returns (file_path, part_ok, part_reason).
    """
    h = hql_parts.select(
        "file_path", F.col("pos"), F.col("name"), F.col("type").alias("type_new")
    )
    c = cat_parts.select(
        "file_path", F.col("position").alias("pos"), F.col("name"), F.col("type").alias("type_old")
    )
    cnt_h = h.groupBy("file_path").agg(F.count("*").alias("n_new"))
    cnt_c = c.groupBy("file_path").agg(F.count("*").alias("n_old"))

    # positional full outer: order is part of the key (J9)
    m = h.join(c, ["file_path", "pos", "name"], "full_outer")
    mism = m.groupBy("file_path").agg(
        F.max(
            (F.col("type_new").isNull() | F.col("type_old").isNull()).cast("int")
        ).alias("missing"),
        F.max((F.col("type_new") != F.col("type_old")).cast("int")).alias("retyped"),
    )
    # name-set equality (order-only change detection, A4) via anti
    # joins both ways
    h_extra = (
        h.select("file_path", "name")
        .join(c.select("file_path", "name"), ["file_path", "name"], "left_anti")
        .groupBy("file_path")
        .agg(F.count("*").alias("h_extra"))
    )
    c_extra = (
        c.select("file_path", "name")
        .join(h.select("file_path", "name"), ["file_path", "name"], "left_anti")
        .groupBy("file_path")
        .agg(F.count("*").alias("c_extra"))
    )

    base = (
        cnt_h.join(cnt_c, "file_path", "full_outer")
        .join(mism, "file_path", "left")
        .join(h_extra, "file_path", "left")
        .join(c_extra, "file_path", "left")
        .na.fill({"n_new": 0, "n_old": 0, "missing": 0, "retyped": 0, "h_extra": 0, "c_extra": 0})
    )
    sets_equal = (F.col("h_extra") == 0) & (F.col("c_extra") == 0)
    count_mismatch = F.col("n_new") != F.col("n_old")
    both_empty = (F.col("n_new") == 0) & (F.col("n_old") == 0)
    row_mismatch = (F.col("missing") == 1) | (F.col("retyped") == 1)
    ok = both_empty | (~count_mismatch & ~row_mismatch)
    reason = F.when(ok, F.lit(None)).otherwise(
        # count mismatch -> order flag is False (rule_book.py:120-122);
        # otherwise the quirky names_equal flag decides
        F.when(
            ~count_mismatch & sets_equal, F.lit("PartitionOrderValidationError")
        ).otherwise(F.lit("PartitionValidationError"))
    )
    return base.select(
        "file_path", ok.alias("part_ok"), reason.alias("part_reason")
    )


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
    incompatible, format_change, requires_migration)
    where outcome ∈ skipped|errored|new|identical|success|non_parquet|
    format_changed|iceberg. ``format_change`` may be set alongside
    outcome='iceberg' (migration tables land in both report lists,
    alterator.py:556-570).
    """
    cat_t = cat_tables.select(
        "table_name",
        F.col("format").alias("cat_format"),
        F.lit(True).alias("cat_exists"),
    )
    base = parsed.join(F.broadcast(cat_t), "table_name", "left")

    # --- column + partition sub-diffs (computed for parquet-routed tables)
    # NB: commented-out columns are NOT filtered here — the reference's
    # Hive column regex has no comment group (alterator.py:75-78), so a
    # `-- `col` type,` line still counts as a live column on this path
    # (commenting is an Iceberg-only concept).
    hql_cols = parsed.select("file_path", F.explode("columns").alias("c")).select(
        "file_path", "c.*"
    )
    # fan catalog columns out per FILE so same-named tables in two
    # files cannot contaminate each other's diff
    fmap = parsed.select("file_path", "table_name").filter(
        F.col("table_name").isNotNull()
    )
    # NOT pinned (r12, VERDICT-r11 task 2): the r11 lazy-localCheckpoint
    # pin here was A/B'd same-session at local[32]/sf0.1 — pinned best
    # 1.899-2.128 s / 18 jobs vs unpinned 1.825-1.932 s / 19 jobs,
    # unpinned consistently ~5-10% faster. The fan-out is a cheap
    # broadcast join over table-count-sized inputs, so the pin's
    # materialization barrier costs more than the 2-consumer
    # re-execution it saves (and it was the suspect in BENCH_r11's
    # ddl_diff_bulk 0.705x). Reverted to the plain join.
    cat_f = fmap.join(cat_cols, "table_name")
    col_diff = _column_diff(
        hql_cols.select("file_path", "pos", "name", "type", "backfilled_from"),
        cat_f.select("file_path", "name", "type", "position"),
    )
    hql_parts = parsed.select(
        "file_path", F.explode("hive_partitions").alias("p")
    ).select("file_path", "p.*")
    part = _partition_check(
        hql_parts,
        cat_f.filter(F.col("is_partition")).select(
            "file_path", "name", "type", "position"
        ),
    )

    df = (
        base.join(col_diff, "file_path", "left")
        .join(part, "file_path", "left")
        .withColumn("add", F.coalesce("add", _empty_nt()))
        .withColumn("delete", F.coalesce("delete", _empty_nt()))
        .withColumn("compatible", F.coalesce("compatible", _empty_chg()))
        .withColumn("incompatible", F.coalesce("incompatible", _empty_chg()))
        .withColumn("part_ok", F.coalesce("part_ok", F.lit(True)))
    )

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
        .when(F.col("hql_format") == "iceberg", "iceberg")
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
    )
