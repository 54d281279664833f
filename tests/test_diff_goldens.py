"""Differential goldens for the schema-diff engine.

``tests/golden/*.json`` hold the exact outputs of ``hive_diff``,
``iceberg_diff`` and ``build_report`` on four corpora, captured from the
earlier join-per-merge form of the engine (the move column of the Iceberg
schema and of ``ddl_iceberg_diff``, and the Iceberg rows of tables absent
from the catalog, come from the self-routing form that followed it):

- ``bulk500``: the 500-table ``_bulk_fixture`` behind ``ddl_diff_bulk``;
- ``schema_diff``: the ``tests/test_schema_diff.py`` corpus, with
  ``force=False`` and ``force=True``;
- ``schema_tools``: the ``ddl_hive_diff`` / ``ddl_iceberg_diff`` query
  outputs;
- ``edge_cases``: the cases below, which the join form handled only
  implicitly.

Every output row is compared field by field, so a list that turns
from NULL into ``[]``, reorders, or gains a duplicate fails here even
when the report JSON would hide it.

To re-capture after an intended behaviour change (review the diff):

    python -m tests.test_diff_goldens
"""

from __future__ import annotations

import json
import os

import pytest

from easy_alterator_spark.diff.catalog import COLS_SCHEMA, TABLES_SCHEMA
from easy_alterator_spark.session import local_frame

from .test_schema_diff import CAT_COLS, CAT_TABLES, DDLS

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")

# Behaviour the join form gave implicitly, one table per case.
EDGE_DDLS = {
    # a column name repeated in one DDL (Hive and Iceberg)
    "edge/dup_col.hql": "CREATE EXTERNAL TABLE `e.dup`(`a` int, `a` string, `b` int) STORED AS PARQUET;",
    "edge/ice_dup.hql": "CREATE TABLE `e.idup` (`a` string, `a` bigint, `n` int) USING iceberg;",
    # a name repeated in the catalog snapshot
    "edge/dup_cat.hql": "CREATE EXTERNAL TABLE `e.dupcat`(`c` bigint) STORED AS PARQUET;",
    # files whose table name does not parse (table_name NULL)
    "edge/noname.hql": "CREATE EXTERNAL TABLE e_noname (`q` string) PARTITIONED BY (`d` date) STORED AS PARQUET;",
    "edge/noname_ice.hql": "CREATE TABLE ice_noname (`x` string) USING iceberg PARTITIONED BY (`x`);",
    # a DDL with zero columns against an existing table
    "edge/zero_hive.hql": "CREATE EXTERNAL TABLE `e.zero`() STORED AS PARQUET;",
    "edge/zero_ice.hql": "CREATE TABLE `e.izero` () USING iceberg;",
    # partitions present on only one side
    "edge/hpart_ddl.hql": "CREATE EXTERNAL TABLE `e.hp1`(`v` string) PARTITIONED BY (`d` date) STORED AS PARQUET;",
    "edge/hpart_cat.hql": "CREATE EXTERNAL TABLE `e.hp2`(`v` string) STORED AS PARQUET;",
    "edge/ipart_ddl.hql": "CREATE TABLE `e.ip1` (`ts` date, `r` string) USING iceberg PARTITIONED BY (days(`ts`), `r`);",
    "edge/ipart_cat.hql": "CREATE TABLE `e.ip2` (`ts` date, `r` string) USING iceberg;",
    # live Iceberg snapshot without field ids (listColumns fallback)
    "edge/ice_nullfid.hql": "CREATE TABLE `e.inf` (`d` date) USING iceberg PARTITIONED BY (`d`);",
    # catalog rows for a table absent from cat_tables
    "edge/orphan.hql": "CREATE EXTERNAL TABLE `e.orphan`(`o1` string) STORED AS PARQUET;",
    "edge/orphan_ice.hql": "CREATE TABLE `e.iorphan` (`o1` string) USING iceberg PARTITIONED BY (`o1`);",
    # `first`, a valid move, a rename whose source is missing, props
    "edge/ice_first.hql": """CREATE TABLE `e.ifirst` (
        `b` string, -- first
        `a` string, -- after: b
        `z` string, -- renamed_from: nope
        `c` string
    ) USING iceberg TBLPROPERTIES('k1'='v1', 'k2'='new');""",
}

EDGE_CAT_COLS = [
    ("e.dup", "a", "int", 0, False, None),
    ("e.dup", "b", "int", 1, False, None),
    ("e.idup", "a", "string", 0, False, 1),
    ("e.dupcat", "c", "int", 0, False, None),
    ("e.dupcat", "c", "bigint", 1, False, None),
    ("e.zero", "z1", "string", 0, False, None),
    ("e.zero", "z2", "int", 1, False, None),
    ("e.izero", "y1", "string", 0, False, 1),
    ("e.izero", "y2", "int", 1, False, 2),
    ("e.hp1", "v", "string", 0, False, None),
    ("e.hp2", "v", "string", 0, False, None),
    ("e.hp2", "d", "date", 0, True, None),
    ("e.ip1", "ts", "date", 0, False, 1),
    ("e.ip1", "r", "string", 1, False, 2),
    ("e.ip2", "ts", "date", 0, False, 1),
    ("e.ip2", "r", "string", 1, False, 2),
    ("e.ip2", "ts_day", "", 0, True, 1000),
    ("e.ip2", "r", "", 1, True, 1001),
    ("e.inf", "d", "date", 0, False, None),
    ("e.inf", "d", "date", 0, True, None),
    ("e.orphan", "o2", "string", 0, False, None),
    ("e.iorphan", "o2", "string", 0, False, 1),
    ("e.ifirst", "a", "string", 0, False, 1),
    ("e.ifirst", "b", "string", 1, False, 2),
    ("e.ifirst", "c", "string", 2, False, 3),
]

EDGE_CAT_TABLES = [
    ("e.dup", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("e.idup", "EXTERNAL_TABLE", "ICEBERG", "s3://m/idup", {}, "1"),
    ("e.dupcat", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("e.zero", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("e.izero", "EXTERNAL_TABLE", "ICEBERG", "s3://m/izero", {}, "1"),
    ("e.hp1", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("e.hp2", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("e.ip1", "EXTERNAL_TABLE", "ICEBERG", "s3://m/ip1", {}, "1"),
    ("e.ip2", "EXTERNAL_TABLE", "ICEBERG", "s3://m/ip2", {}, "1"),
    ("e.inf", "EXTERNAL_TABLE", "ICEBERG", None, {}, "1"),
    ("e.ifirst", "EXTERNAL_TABLE", "ICEBERG", "s3://m/ifirst",
     {"k2": "old", "k3": "x", "owner": "me", "write.parquet.compression-codec": "zstd"}, "1"),
]


def _rows(df, key: str) -> list:
    """Every row of ``df``, with an Iceberg row's ``position_candidates``
    held as the ordered moves the report makes of them (under the key
    ``position_changes``, NULL when there are none)."""
    from easy_alterator_spark.diff.report import position_moves

    rows = [r.asDict(recursive=True) for r in df.collect()]
    for r in rows:
        if "position_candidates" in r:
            r["position_changes"] = position_moves(r.pop("position_candidates")) or None
    return sorted(rows, key=lambda r: (r[key] is not None, r[key] or ""))


def _report(report: dict) -> dict:
    """The report with its table lists in a canonical order: the order
    of rows in a collect, and so in each list, is not part of the
    contract."""
    return {
        k: sorted(v, key=lambda e: json.dumps(e, sort_keys=True)) if isinstance(v, list) else v
        for k, v in report.items()
    }


def _frames(spark, ddls: dict, cat_cols: list, cat_tables: list, account: str = ""):
    from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus

    parsed = parse_ddl_corpus(
        corpus_from_rows(spark, list(ddls.items()), aws_account_id=account)
    )
    return (
        parsed,
        local_frame(spark, cat_cols, COLS_SCHEMA),
        local_frame(spark, cat_tables, TABLES_SCHEMA),
    )


def _diff_case(parsed, cat_cols, cat_tables, force: bool, versions=None) -> dict:
    """The diff over the whole parsed corpus, its Iceberg projection and
    the report, wired as ``cli.run_alterator`` wires them: the success
    versions are filled after ``build_report``. The ``hive`` rows leave
    out the ``iceberg`` struct, which the ``iceberg`` rows hold."""
    from easy_alterator_spark.diff import build_report, hive_diff, iceberg_diff

    outcomes = hive_diff(parsed, cat_cols, cat_tables, force=force)
    ice = iceberg_diff(parsed, cat_cols, cat_tables)
    report = build_report(outcomes, force=force)
    for e in report["success_tables"]:
        e["previous_version"] = e["current_version"] = (versions or {}).get(e["table_name"])
    return {
        "hive_schema": outcomes.schema.simpleString(),
        "iceberg_schema": ice.schema.simpleString(),
        "hive": _rows(outcomes.drop("iceberg"), "file_path"),
        "iceberg": _rows(ice, "table_name"),
        "report": _report(report),
    }


def capture(spark, name: str):
    """The current engine's output for one golden."""
    if name == "bulk500":
        from easy_alterator_spark.diff import build_report, hive_diff
        from easy_alterator_spark.queries.schema_tools import _bulk_fixture

        parsed, cat_cols, cat_tables = _bulk_fixture(spark, 500)
        return {"report": _report(build_report(hive_diff(parsed, cat_cols, cat_tables)))}
    if name == "schema_diff":
        frames = _frames(spark, DDLS, CAT_COLS, CAT_TABLES, account="123456789012")
        frames[0].cache()
        versions = {t: v for (t, _tt, _f, _m, _p, v) in CAT_TABLES}
        try:
            return {
                f"force={force}": _diff_case(*frames, force=force, versions=versions)
                for force in (False, True)
            }
        finally:
            frames[0].unpersist()
    if name == "schema_tools":
        from easy_alterator_spark.queries import QUERIES, load_all

        load_all()
        return {
            q: [r.asDict(recursive=True) for r in QUERIES[q](spark, None).collect()]
            for q in ("ddl_hive_diff", "ddl_iceberg_diff")
        }
    if name == "edge_cases":
        frames = _frames(spark, EDGE_DDLS, EDGE_CAT_COLS, EDGE_CAT_TABLES)
        return {
            f"force={force}": _diff_case(*frames, force=force)
            for force in (False, True)
        }
    raise KeyError(name)


GOLDENS = ("bulk500", "schema_diff", "schema_tools", "edge_cases")


def _normalize(obj):
    return json.loads(json.dumps(obj, sort_keys=True, default=str))


@pytest.mark.parametrize("name", GOLDENS)
def test_matches_golden(spark, name):
    with open(os.path.join(GOLDEN_DIR, f"{name}.json")) as f:
        want = json.load(f)
    got = _normalize(capture(spark, name))
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == want[key], f"{name}: {key} differs from the golden"


def main() -> None:
    from .conftest import _default_driver_mem

    from easy_alterator_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())
    spark = get_spark("diff-goldens", master="local[2]")
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for name in GOLDENS:
        with open(os.path.join(GOLDEN_DIR, f"{name}.json"), "w") as f:
            json.dump(_normalize(capture(spark, name)), f, indent=1, sort_keys=True)
            f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
