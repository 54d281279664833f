"""Iceberg-path schema diff: each table is diffed inside its own row.

Re-expresses the reference handler (iceberg_schema_handler.py:241-576)
the way :mod:`.hive` does: each parsed DDL row carries its table's
catalog columns as one sorted array and its catalog table row, both
attached on the driver (:func:`.hive._attach_catalog`), and every merge
of the reference is a row-local higher-order expression:

- J6 inner join on name        -> ``common``: each DDL column paired
                                  with its same-named catalog columns
- J5 new columns (F9)          -> DDL columns no catalog column,
                                  rename or backfill names
- J12/F8 deletes               -> commented ``common`` columns + catalog
                                  columns neither in the DDL nor renamed
- J7 renames                   -> ``renamed_from`` matched to a catalog
                                  column
- F10 updates + F5             -> retyped ``common`` pairs split by
                                  ``types.is_compatible_col``
- first_col                    -> first type-unchanged ``-- first`` column
- J10 partitions on field_id   -> :func:`.hive.outer_pairs` on field id
                                  -> new / dropped / replaced
- A5 property set algebra      -> ``map_*`` functions on the props maps
- O2 migration sequence gate   -> (name, type) arrays in source order
- O3/O4 position cascade       -> ``position_candidates``: each
                                  ``after`` directive, valid when the
                                  column is not already the catalog
                                  successor of its target (by array
                                  index); the report sorts them into
                                  moves on the driver
                                  (:func:`easy_alterator_spark.diff.report.position_moves`)

The diff has no plan of its own: :func:`.hive.hive_diff` routes the
Iceberg CREATE files and computes each table's diff with
:func:`with_iceberg` over the same row, as its ``iceberg`` struct
column. So one plan and one collect serve both paths, and
:func:`iceberg_diff` is a projection of that column.

Documented divergences from the reference (bit-rot fixed, see
SURVEY.md §0/§7):

- The migration `_same_order` gate compares (name, type) sequences;
  the reference's dict-equality compare (iceberg_schema_handler.py:
  702-708) can never be True because the two sides carry different
  keys, so every migration would report ``sequenceMismatch``.
- An incompatible change missing ``backfilled_from`` marks THAT TABLE
  as errored (reason ``ValidationError``) instead of raising out of
  the whole run (iceberg_schema_handler.py:366-371 raises ValueError).
- A partition list present on only one side goes through the same
  field-id outer join (the reference's raw-dict fallback crashes on a
  ``field_id``/``field-id`` key mismatch, :511-513 vs :107-110).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ddl import types as TY
from .hive import hive_diff, outer_pairs, side, sorted_by

# the Iceberg catalog every reported table name is qualified with
CATALOG = "glue_catalog"


_COMMON_FIELDS = ("pos", "name", "type", "is_deleted", "after", "backfilled_from", "is_first")


def _only_if(cond: Column, arr: Column) -> Column:
    """``arr`` where ``cond`` holds, else an empty array of its type."""
    return F.filter(arr, lambda _: F.coalesce(cond, F.lit(False)))


def _has(arr: Column, field: str, value: Column) -> Column:
    return F.size(F.filter(arr, lambda x: x[field] == value)) > 0


def _nonempty(arr: Column) -> Column:
    return F.when(F.size(arr) > 0, arr)


def iceberg_diff(parsed: DataFrame, cat_cols: DataFrame, cat_tables: DataFrame) -> DataFrame:
    """Diff the Iceberg CREATE files of ``parsed`` against the catalog.

    Returns one row per table, the non-NULL ``iceberg`` structs of
    :func:`.hive.hive_diff`, with nested diff columns:
    (table_name, full_name, requires_migration, sequence_mismatch,
    error, new_cols, dropped, renamed, compatible, incompatible,
    position_candidates, first_col, part_new, part_dropped,
    part_replaced, props_new, props_removed, props_updated)
    """
    out = hive_diff(parsed, cat_cols, cat_tables)
    return out.where(F.col("iceberg").isNotNull()).select("iceberg.*")


def with_iceberg(base: DataFrame, keep: Column) -> DataFrame:
    """``base`` plus ``iceberg``: the Iceberg diff of each row where
    ``keep`` holds (the fields :func:`iceberg_diff` lists), NULL on
    every other row.

    ``base`` is a :func:`.hive.hive_diff` row: one parsed DDL file, its
    catalog table (``cat_format``, ``cat_exists``, ``cat_props``) and
    its catalog columns (``cat``), from :func:`.hive._attach_catalog`.
    """
    rm = F.col("cat_format") != "ICEBERG"
    in_cat = F.coalesce("cat_exists", F.lit(False))
    on = keep & in_cat

    # --- both sides in comparison vocabulary ---------------------------
    # DDL columns with Iceberg flags (F7), types normalized (P7) unless
    # the table still is Hive (iceberg_schema_handler.py:84-97)
    hql = F.transform(
        "columns",
        lambda c: F.struct(
            c["pos"].alias("pos"),
            c["name"].alias("name"),
            F.when(rm, c["type"])
            .otherwise(TY.normalize_iceberg_ddl_type_col(c["type"]))
            .alias("type"),
            c["commented"].alias("is_deleted"),
            c["renamed_from"].alias("renamed_from"),
            c["after"].alias("after"),
            c["backfilled_from"].alias("backfilled_from"),
            c["first"].alias("is_first"),
        ),
    )
    # Live Iceberg tables: schema fields only (partition *sources* are
    # already schema fields), types mapped iceberg->spark
    # (rule_book.py:336-339). Migration (still-Hive) tables: data
    # columns + partition keys, raw Hive types, positions 0..n-1 in that
    # order (iceberg_schema_handler.py:153-172).
    cat = F.transform(
        F.filter("cat", lambda c: ~c["is_partition"] | rm),
        lambda c, i: F.struct(
            F.lower(c["name"]).alias("name"),
            F.when(rm, c["type"]).otherwise(TY.iceberg_to_spark_type_col(c["type"])).alias("type"),
            F.when(rm, i).otherwise(c["position"]).alias("position"),
        ),
    )
    # partition fields; a migration table's get ids 1000.. in order
    cat_parts = F.transform(
        F.filter("cat", lambda c: c["is_partition"]),
        lambda c, j: F.struct(
            F.lower(c["name"]).alias("name"),
            F.when(rm, j + 1000).otherwise(c["field_id"]).alias("field_id"),
        ),
    )
    no_props = F.create_map().cast("map<string,string>")
    sides = base.select(
        "*",
        in_cat.alias("in_cat"),
        _only_if(on, hql).alias("hql"),
        _only_if(on, cat).alias("ice_cat"),
        _only_if(on, cat_parts).alias("cat_parts"),
        # ids were assigned before the filter
        F.filter("iceberg_partitions", lambda p: ~p["commented"]).alias("hql_parts"),
        F.coalesce("tblprops", no_props).alias("hp"),
        F.map_filter(
            F.coalesce(F.col("cat_props").cast("map<string,string>"), no_props),
            lambda k, _: k != "owner",
        ).alias("cp"),
    )
    hql, cat = F.col("hql"), F.col("ice_cat")

    # --- J6: DDL columns paired with same-named catalog columns ---------
    common = F.flatten(
        F.transform(
            hql,
            lambda h: F.transform(
                F.filter(cat, lambda c: c["name"] == h["name"]),
                lambda c: F.struct(
                    *[h[f].alias(f) for f in _COMMON_FIELDS], c["type"].alias("type_old")
                ),
            ),
        )
    )
    # --- J10: partition fields outer-joined on field id -----------------
    part_pairs = outer_pairs(
        F.col("hql_parts"),
        F.col("cat_parts"),
        lambda h, c: h["field_id"] == c["field_id"],
        lambda h, c: F.struct(
            (h if h is not None else c)["field_id"].alias("field_id"),
            side(h, "name").alias("name_new"),
            side(h, "expr").alias("expr"),
            side(c, "name").alias("name_old"),
        ),
    )
    joined = sides.select("*", common.alias("common"), part_pairs.alias("part_pairs"))
    common = F.col("common")

    # --- F10 type updates + F5 compatibility ---------------------------
    updated = F.transform(
        F.filter(common, lambda p: p["type_old"] != p["type"]),
        lambda p: F.struct(
            p["pos"].alias("pos"),
            p["name"].alias("name"),
            p["type_old"].alias("old_type"),
            p["type"].alias("new_type"),
            p["backfilled_from"].alias("backfilled_from"),
            TY.is_compatible_col(p["type_old"], p["type"], "iceberg").alias("compat"),
        ),
    )
    # --- position updates (O3/O4) --------------------------------------
    # candidates: existing, type-unchanged, has `after`, not deleted
    # (F11); valid when the target is a catalog column and the column is
    # not already its catalog successor (J11)
    def valid(a: Column) -> Column:
        succ = F.transform(
            cat,
            lambda c, i: (c["name"] == a["after"])
            & (F.get(cat, i + 1)["name"].isNull() | (F.get(cat, i + 1)["name"] != a["name"])),
        )
        return F.coalesce(F.exists(succ, lambda x: x), F.lit(False))

    cands = F.transform(
        F.filter(
            common,
            lambda p: (p["type_old"] == p["type"]) & p["after"].isNotNull() & ~p["is_deleted"],
        ),
        lambda p: F.struct(p["name"].alias("name"), p["after"].alias("after"), valid(p).alias("valid")),
    )
    # --- deletes: commented & present in catalog, plus catalog columns
    # absent from the DDL that are not rename sources (J12/F8) ----------
    deletes = F.concat(
        F.transform(
            F.filter(common, lambda p: p["is_deleted"]),
            lambda p: F.struct(p["pos"].alias("o"), p["name"].alias("p")),
        ),
        F.transform(
            F.filter(
                cat,
                lambda c: ~_has(hql, "name", c["name"]) & ~_has(hql, "renamed_from", c["name"]),
            ),
            lambda c: F.struct((c["position"] + 100000).alias("o"), c["name"].alias("p")),
        ),
    )
    # --- J7 renames ----------------------------------------------------
    renames = F.flatten(
        F.transform(
            F.filter(hql, lambda h: h["renamed_from"].isNotNull()),
            lambda h: F.transform(
                F.filter(cat, lambda c: c["name"] == h["renamed_from"]),
                lambda c: F.struct(
                    h["pos"].alias("o"),
                    F.struct(c["name"].alias("old_name"), h["name"].alias("new_name")).alias("p"),
                ),
            ),
        )
    )
    # --- new columns (F9) ----------------------------------------------
    new_cols = sorted_by(
        hql,
        lambda h: ~h["is_deleted"]
        & h["renamed_from"].isNull()
        & ~_has(cat, "name", h["name"])
        & ~_has(hql, "backfilled_from", h["name"]),
        lambda h: h["pos"],
        lambda h: F.struct(
            h["name"].alias("name"),
            h["type"].alias("type"),
            h["after"].alias("after"),
            h["is_first"].alias("first"),
        ),
    )
    first_col = F.get(
        sorted_by(
            common,
            lambda p: (p["type_old"] == p["type"]) & p["is_first"],
            lambda p: p["pos"],
            lambda p: p["name"],
        ),
        0,
    )
    # --- migration sequence gate (O2) ----------------------------------
    def sequence(arr: Column, order: str) -> Column:
        return sorted_by(
            arr, lambda x: F.lit(True), lambda x: x[order],
            lambda x: F.struct(x["name"].alias("name"), x["type"].alias("type")),
        )

    # --- partition diff (J10) ------------------------------------------
    pp = F.col("part_pairs")
    has_parts = F.col("table_name").isNotNull() & (F.size(pp) > 0)
    part_new = F.array_sort(
        F.transform(
            F.filter(pp, lambda p: p["name_old"].isNull()),
            lambda p: F.struct(
                p["field_id"].alias("field_id"), p["name_new"].alias("name"), p["expr"].alias("expr")
            ),
        )
    )
    part_dropped = F.transform(
        F.filter(pp, lambda p: p["name_new"].isNull() & p["name_old"].isNotNull()),
        lambda p: p["name_old"],
    )
    part_replaced = F.transform(
        F.filter(
            pp,
            lambda p: p["name_old"].isNotNull()
            & p["name_new"].isNotNull()
            & (p["name_old"] != p["name_new"]),
        ),
        lambda p: F.struct(
            p["name_old"].alias("old_name"),
            p["name_new"].alias("new_name"),
            # carry the parsed transform expr: Iceberg's REPLACE ...
            # WITH clause needs the expression (months(`ts`)), not the
            # derived field name
            p["expr"].alias("expr"),
        ),
    )

    # --- tblprops (A5) --------------------------------------------------
    default_props = F.array(*[F.lit(p) for p in TY.ICEBERG_DEFAULT_PROPS])
    props_as_is = rm | (F.size(F.map_keys("hp")) == 0) | (F.size(F.map_keys("cp")) == 0)

    def props(expr: Column, as_is: Column) -> Column:
        return F.when(F.col("in_cat"), F.when(props_as_is, as_is).otherwise(expr))

    missing_backfill = sorted_by(
        F.col("updated"),
        lambda u: ~u["compat"] & u["backfilled_from"].isNull(),
        lambda u: u["pos"],
        lambda u: u["name"],
    )
    out = joined.select(
        "*",
        updated.alias("updated"),
        cands.alias("cands"),
        deletes.alias("deletes"),
        renames.alias("renames"),
        new_cols.alias("new_cols"),
        first_col.alias("first_col"),
        F.when(has_parts, part_new).alias("part_new"),
        F.when(has_parts, part_dropped).alias("part_dropped"),
        F.when(has_parts, part_replaced).alias("part_replaced"),
    )
    upd = F.col("updated")
    diff = F.struct(
        "table_name",
        F.concat(F.lit(CATALOG + "."), "table_name").alias("full_name"),
        F.coalesce(rm, F.lit(False)).alias("requires_migration"),
        F.coalesce(rm & (sequence(hql, "pos") != sequence(cat, "position")), F.lit(False)).alias(
            "sequence_mismatch"
        ),
        F.when(
            F.size(missing_backfill) > 0,
            F.concat(
                F.lit("backfilled_from is missing for column in DDL file for: "),
                F.concat_ws(", ", missing_backfill),
            ),
        ).alias("error"),
        _nonempty(F.col("new_cols")).alias("new_cols"),
        _nonempty(F.transform(F.array_sort("deletes"), lambda s: s["p"])).alias("dropped"),
        _nonempty(F.transform(F.array_sort("renames"), lambda s: s["p"])).alias("renamed"),
        _nonempty(
            sorted_by(
                upd,
                lambda u: u["compat"],
                lambda u: u["pos"],
                lambda u: F.struct(
                    u["name"].alias("name"), u["old_type"].alias("old_type"), u["new_type"].alias("new_type")
                ),
            )
        ).alias("compatible"),
        _nonempty(
            sorted_by(
                upd,
                lambda u: ~u["compat"],
                lambda u: u["pos"],
                lambda u: F.struct(
                    u["name"].alias("name"),
                    u["old_type"].alias("old_type"),
                    u["new_type"].alias("new_type"),
                    u["backfilled_from"].alias("backfilled_from"),
                ),
            )
        ).alias("incompatible"),
        _nonempty(F.col("cands")).alias("position_candidates"),
        "first_col",
        "part_new",
        "part_dropped",
        "part_replaced",
        props(
            F.map_filter("hp", lambda k, _: ~F.array_contains(F.map_keys("cp"), k)), F.col("hp")
        ).alias("props_new"),
        props(
            F.filter(
                F.map_keys("cp"),
                lambda k: ~F.array_contains(default_props, k)
                & ~F.array_contains(F.map_keys("hp"), k),
            ),
            F.array().cast("array<string>"),
        ).alias("props_removed"),
        props(
            F.map_filter(
                "hp",
                lambda k, v: F.array_contains(F.map_keys("cp"), k)
                & (v != F.element_at(F.col("cp"), k)),
            ),
            no_props,
        ).alias("props_updated"),
    )
    return out.select(*base.columns, F.when(keep, diff).alias("iceberg"))
