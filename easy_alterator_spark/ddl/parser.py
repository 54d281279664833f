"""DDL-corpus parser: regex-as-projection over CREATE TABLE text.

The reference parses one file at a time with ``re.findall`` inside a
Python loop (alterator.py:518). Here the corpus is one local relation
of (file_path, ddl), read on the driver, and every extraction is a
Column expression (``regexp_extract_all`` + ``transform``), which
Catalyst evaluates on the driver as it optimizes the plan: O(files),
no Spark job. Column order — load-bearing for partition checks and
Iceberg positioning — is carried as an explicit ``pos`` field
(SURVEY.md §7 watch list: Spark rows are unordered).

Directive comments (``-- renamed_from: x``, ``-- after: x``,
``-- backfilled_from: x``, ``-- first``) and commented-out (deleted)
columns follow the reference grammar (iceberg_schema_handler.py:65-68);
empty regex groups are normalized to NULL at parse time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..files import read_file
from ..session import local_frame

# Type token. The reference's column regex only matches scalar types
# (alterator.py:75-78 / iceberg_schema_handler.py:65-68 — its silent
# nested-type gap); SURVEY §1.3 directs this engine to close it. Java
# regex has no recursion, so complex types are matched with an
# explicitly depth-limited alternative: three levels of <> covers
# array<struct<..., map<string, array<int>>>> — deeper nesting than any
# sane lake schema. All inner groups are non-capturing so COL_PATTERN's
# group numbering (1 comment, 2 name, 3 type, 4-7 directives) is stable.
_SIMPLE_TYPE = r"\w+(?:\(\d+,\s*\d+\)|\(\d+\))?"
_NESTED_TYPE = r"\w+<(?:[^<>\n]|\w+<(?:[^<>\n]|\w+<[^<>\n]*>)*>)*>"
_TYPE = rf"(?:{_NESTED_TYPE}|{_SIMPLE_TYPE})"

# one column definition, optionally commented out, optionally followed
# by a directive comment
COL_PATTERN = (
    rf"(--\s*[^\n`]*)?\s*`([\w-]+)`\s+({_TYPE}),?"
    r"(?:[ \t]*--[ \t]*(?:renamed_from:[ \t]*([^\s,]+)|after:[ \t]*([^\s,]+)"
    r"|backfilled_from:[ \t]*([^\s,]+)|(first)))?"
)
TABLE_PATTERN = r"table\s+(?:if\s+not\s+exists\s+)?`(\w+)\.(\w+)`"
HIVE_PART_PATTERN = r"partitioned\s+by\s*\(([\w`\s,]+)\)"
ICE_PART_PATTERN = (
    r"partitioned\s+by\s*\(\s*"
    r"((?:(?:--[^\n]*)?\s*(?:\w+\s*\(\s*(?:\d+\s*,\s*)?)?`[^`]+`\s*\)?\s*,?\s*)+)\)"
)
# One Iceberg partition entry: either a plain identity column `col`, or
# a transform wrapping one — days(`ts`), months/years/hours(`ts`),
# bucket(16, `id`), truncate(4, `name`). The reference (and round-2
# versions of this engine) silently mis-parsed transform entries as
# identity partitions on the inner column — the same silent-gap class
# as nested column types (SURVEY §1.3); closed here end-to-end.
# Groups: 1 comment, 2 transform fn, 3 integer arg, 4 column.
# The comment group matches ONLY the marker + whitespace: a greedy
# `[^\n`]*` would consume '-- days(' up to the backtick and record a
# commented transform entry as identity on the inner column (wrong
# canonical name for any consumer of the commented list).
ICE_PART_ENTRY = r"(--[ \t]*)?(?:(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?)?`([^`]+)`\s*\)?"
TBLPROP_PATTERN = r"tblproperties\s*\(\s*((?:'[\w.-]+'\s*=\s*'[\w./:=,\- ]*'\s*,?\s*)+)\)"
TBLPROP_ENTRY = r"'([\w.-]+)'\s*=\s*'([\w./:=,\- ]*)'"

_SERDE_LIB = "org.apache.hadoop.hive.ql.io.parquet.serde.parquethiveserde"
_SERDE_IN = "org.apache.hadoop.hive.ql.io.parquet.mapredparquetinputformat"
_SERDE_OUT = "org.apache.hadoop.hive.ql.io.parquet.mapredparquetoutputformat"


def _nullify(c: Column) -> Column:
    """'' -> NULL (regex groups yield empty strings, not NULL)."""
    return F.when(c != "", c)


def read_ddl_corpus(spark: SparkSession, paths: list[str], aws_account_id: str = "") -> DataFrame:
    """(file_path, ddl), one row per file, an empty one included, read
    on the driver (:func:`easy_alterator_spark.files.read_file`), then
    normalized by :func:`corpus_from_rows`."""
    return corpus_from_rows(spark, [read_file(spark, p) for p in paths], aws_account_id)


def corpus_from_rows(
    spark: SparkSession, rows: list[tuple[str, str]], aws_account_id: str = ""
) -> DataFrame:
    """Corpus from (file_path, ddl_text) rows, as a local relation
    (:func:`easy_alterator_spark.session.local_frame`), with the
    reference's read normalization: lowercase, trim, {aws_account_id}
    interpolation."""
    raw = local_frame(spark, rows, "file_path string, ddl string")
    # Python str.strip() removes ALL whitespace; Spark trim() only
    # removes spaces — use a regex trim so `\n        CREATE ...` still
    # registers as a create statement.
    ddl = F.regexp_replace(F.lower(F.col("ddl")), r"^\s+|\s+$", "")
    ddl = F.replace(ddl, F.lit("{aws_account_id}"), F.lit(aws_account_id))
    return raw.select("file_path", ddl.alias("ddl"))


# ---------------------------------------------------------------------------
# per-corpus parse: everything in one select
# ---------------------------------------------------------------------------


def _extract_group(m: Column, pattern: str, group: int) -> Column:
    return _nullify(F.regexp_extract(m, pattern, group))


def _parse_columns(ddl: Column) -> Column:
    """array<struct> of column descriptors in DDL order."""
    matches = F.regexp_extract_all(ddl, F.lit(COL_PATTERN), F.lit(0))

    def to_struct(m: Column) -> Column:
        return F.struct(
            F.lower(F.regexp_extract(m, COL_PATTERN, 2)).alias("name"),
            F.regexp_extract(m, COL_PATTERN, 3).alias("type"),
            F.regexp_extract(m, COL_PATTERN, 1).startswith("--").alias("commented"),
            _extract_group(m, COL_PATTERN, 4).alias("renamed_from"),
            _extract_group(m, COL_PATTERN, 5).alias("after"),
            _extract_group(m, COL_PATTERN, 6).alias("backfilled_from"),
            (F.regexp_extract(m, COL_PATTERN, 7) == "first").alias("first"),
        )

    structs = F.transform(matches, to_struct)
    # attach 0-based position explicitly (two-arg transform: the second
    # lambda variable IS the array index)
    return F.transform(
        structs,
        lambda s, i: F.struct(
            i.alias("pos"),
            s["name"].alias("name"),
            s["type"].alias("type"),
            s["commented"].alias("commented"),
            s["renamed_from"].alias("renamed_from"),
            s["after"].alias("after"),
            s["backfilled_from"].alias("backfilled_from"),
            s["first"].alias("first"),
        ),
    )


def _parse_hive_partitions(ddl: Column) -> Column:
    """array<struct<pos,name,type>> from PARTITIONED BY (name type, ...)."""
    clause = F.regexp_extract(ddl, HIVE_PART_PATTERN, 1)
    # collapse whitespace BEFORE trim: trim() only strips spaces, so a
    # multi-line clause entry ("\n  `col` date") must be collapsed
    # first or it keeps a leading blank and splits wrong
    entries = F.filter(
        F.transform(
            F.split(clause, ","),
            lambda e: F.trim(F.regexp_replace(F.regexp_replace(e, "`", ""), r"\s+", " ")),
        ),
        lambda e: e != "",
    )
    return F.transform(
        entries,
        lambda e, i: F.struct(
            i.alias("pos"),
            F.split(e, " ")[0].alias("name"),
            F.element_at(F.split(e, " "), -1).alias("type"),
        ),
    )


def _parse_iceberg_partitions(ddl: Column) -> Column:
    """array<struct<field_id,name,commented,transform,expr>>; field ids
    from 1000 in DDL order (Iceberg partition-field convention).

    ``name`` is the CANONICAL partition-field name Iceberg derives for
    the transform (ts -> ts_day under days(), id -> id_bucket under
    bucket(16, id), name -> name_trunc under truncate(4, name)), so
    the field-id/name diff against metadata.json works unchanged for
    identity fields and correctly flags transform changes as renames.
    ``transform`` uses the metadata.json vocabulary (identity, day,
    month, year, hour, bucket[N], truncate[W]); ``expr`` is the DDL
    expression to render in ADD PARTITION FIELD."""
    clause = F.regexp_extract(ddl, ICE_PART_PATTERN, 1)
    matches = F.regexp_extract_all(clause, F.lit(ICE_PART_ENTRY), F.lit(0))

    def entry(m: Column, i: Column) -> Column:
        fn = F.lower(F.regexp_extract(m, ICE_PART_ENTRY, 2))
        arg = _nullify(F.regexp_extract(m, ICE_PART_ENTRY, 3))
        col = F.lower(F.regexp_extract(m, ICE_PART_ENTRY, 4))
        base = (
            F.when(fn.isin("day", "days"), "day")
            .when(fn.isin("month", "months"), "month")
            .when(fn.isin("year", "years"), "year")
            .when(fn.isin("hour", "hours"), "hour")
            .when(fn == "bucket", "bucket")
            .when(fn == "truncate", "truncate")
            .otherwise("identity")
        )
        transform = (
            F.when(base == "bucket", F.concat(F.lit("bucket["), arg, F.lit("]")))
            .when(base == "truncate", F.concat(F.lit("truncate["), arg, F.lit("]")))
            .otherwise(base)
        )
        name = (
            F.when(base == "identity", col)
            .when(base == "bucket", F.concat(col, F.lit("_bucket")))
            .when(base == "truncate", F.concat(col, F.lit("_trunc")))
            .otherwise(F.concat(col, F.lit("_"), base))
        )
        expr = (
            F.when(base == "identity", col)
            .when(
                base.isin("bucket", "truncate"),
                F.concat(fn, F.lit("("), arg, F.lit(", `"), col, F.lit("`)")),
            )
            .otherwise(F.concat(fn, F.lit("(`"), col, F.lit("`)")))
        )
        return F.struct(
            (i + 1000).alias("field_id"),
            name.alias("name"),
            F.regexp_extract(m, ICE_PART_ENTRY, 1).startswith("--").alias("commented"),
            transform.alias("transform"),
            expr.alias("expr"),
        )

    return F.transform(matches, entry)


def _parse_tblprops(ddl: Column) -> Column:
    clause = F.regexp_extract(ddl, TBLPROP_PATTERN, 1)
    pairs = F.regexp_extract_all(clause, F.lit(TBLPROP_ENTRY), F.lit(0))
    return F.map_from_arrays(
        F.transform(pairs, lambda p: F.regexp_extract(p, TBLPROP_ENTRY, 1)),
        F.transform(pairs, lambda p: F.regexp_extract(p, TBLPROP_ENTRY, 2)),
    )


def _hql_is_parquet(ddl: Column) -> Column:
    """STORED AS PARQUET, or STORED AS INPUTFORMAT + the full parquet
    SerDe triple (rule_book.py:33-89 semantics)."""
    stored_as = F.lower(F.regexp_extract(ddl, r"stored\s+as\s+(\w+)", 1))
    serde = F.lower(F.regexp_extract(ddl, r"row\s+format\s+serde\s+'([\w\.]+)'", 1))
    in_fmt = F.lower(F.regexp_extract(ddl, r"inputformat\s+'([\w\.]+)'", 1))
    out_fmt = F.lower(F.regexp_extract(ddl, r"outputformat\s+'([\w\.]+)'", 1))
    return (stored_as == "parquet") | (
        (stored_as == "inputformat")
        & (serde == _SERDE_LIB)
        & (in_fmt == _SERDE_IN)
        & (out_fmt == _SERDE_OUT)
    )


def parse_ddl_corpus(corpus: DataFrame) -> DataFrame:
    """One row per DDL file with every extraction as a typed column.

    Output columns: file_path, ddl, table_name (nullable), is_create,
    is_external, hql_format ('iceberg'|'parquet'|'text'), columns,
    hive_partitions, iceberg_partitions, tblprops.
    """
    ddl = F.col("ddl")
    db = _nullify(F.regexp_extract(ddl, TABLE_PATTERN, 1))
    tbl = _nullify(F.regexp_extract(ddl, TABLE_PATTERN, 2))
    using = F.lower(F.regexp_extract(ddl, r"using\s+(\w+)", 1))
    fmt = (
        F.when(using == "iceberg", "iceberg")
        .when(_hql_is_parquet(ddl), "parquet")
        .otherwise("text")
    )
    return corpus.select(
        "file_path",
        "ddl",
        F.when(db.isNotNull() & tbl.isNotNull(), F.concat_ws(".", db, tbl)).alias("table_name"),
        ddl.startswith("create").alias("is_create"),
        F.regexp_like(ddl, F.lit(r"create\s*external\s*table")).alias("is_external"),
        fmt.alias("hql_format"),
        _parse_columns(ddl).alias("columns"),
        _parse_hive_partitions(ddl).alias("hive_partitions"),
        _parse_iceberg_partitions(ddl).alias("iceberg_partitions"),
        _parse_tblprops(ddl).alias("tblprops"),
    )

