"""Golden-fixture tests for the schema-diff engine (SURVEY.md §5.2).

One corpus, one catalog snapshot, one corpus-wide diff run; assertions
mirror the reference README's documented outputs
(/root/reference/README.md:98-365).
"""

from __future__ import annotations

import pytest

from easy_alterator_spark.diff.catalog import COLS_SCHEMA, TABLES_SCHEMA
from easy_alterator_spark.session import local_frame

sf = None  # tests here don't touch the relational test data

DDLS = {
    "hql/raw_sales.hql": """
        CREATE EXTERNAL TABLE IF NOT EXISTS `sdb.raw_sales`(
            `id` int,
            `amount` double,
            `ile1` string,
            `sovereign_guarantee_flag` string
        )
        PARTITIONED BY (`day_rk` date)
        STORED AS PARQUET
        LOCATION 's3://bucket-{aws_account_id}-data/raw_sales';
    """,
    "hql/quaterly_sales.hql": """
        CREATE EXTERNAL TABLE `sdb.quaterly_sales`(
            `original_effective_maturity` double,
            `x` string,
            `ile1` string
        )
        PARTITIONED BY (`day_rk` date)
        STORED AS PARQUET;
    """,
    "hql/widen.hql": """
        CREATE EXTERNAL TABLE `sdb.widen`(`c1` bigint, `c2` double)
        STORED AS PARQUET;
    """,
    "hql/serde_tbl.hql": """
        CREATE EXTERNAL TABLE `sdb.serde_tbl`(`a` string, `b` string)
        ROW FORMAT SERDE 'org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe'
        STORED AS INPUTFORMAT 'org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat'
        OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat'
        LOCATION 's3://b/serde_tbl';
    """,
    "hql/part_drift.hql": """
        CREATE EXTERNAL TABLE `sdb.part_drift`(`v` string)
        PARTITIONED BY (`day_rk` date, `run_rk` int)
        STORED AS PARQUET;
    """,
    "hql/part_order.hql": """
        CREATE EXTERNAL TABLE `sdb.part_order`(`v` string)
        PARTITIONED BY (`run_rk` int, `day_rk` date)
        STORED AS PARQUET;
    """,
    "hql/ident.hql": """
        CREATE EXTERNAL TABLE `sdb.ident`(`k` int) STORED AS PARQUET;
    """,
    "hql/newtbl.hql": """
        CREATE EXTERNAL TABLE `sdb.newtbl`(`n1` string) STORED AS PARQUET;
    """,
    "hql/noncreate.hql": """
        ALTER TABLE `sdb.raw_sales` ADD COLUMNS (`zz` string);
    """,
    "hql/noname.hql": """
        CREATE EXTERNAL TABLE sdb2.bad (`q` string) STORED AS PARQUET;
    """,
    "hql/nonext.hql": """
        CREATE TABLE `sdb.raw_sales2`(`id` int) STORED AS PARQUET;
    """,
    "hql/text_fmt.hql": """
        CREATE EXTERNAL TABLE `sdb.text_fmt`(`t1` string) LOCATION 's3://b/t';
    """,
    "hql/was_parquet.hql": """
        CREATE EXTERNAL TABLE `sdb.was_parquet`(`t1` string) LOCATION 's3://b/t2';
    """,
    "hql/ice.hql": """
        CREATE TABLE IF NOT EXISTS `db.ice` (
            `col1` string,
            -- `col2` double,
            `col3` decimal(18, 7),
            `col5` bigint, -- renamed_from: col4
            `day_rk` date,
            `run_rk` int,
            `new_col` timestamp,
            `seq_col` string, -- after: col3
            `col6_hist` double,
            `col6` bigint, -- backfilled_from: col6_hist
        )
        USING iceberg
        PARTITIONED BY (
            `day_rk`,
            `run_rk`
        )
        LOCATION 's3://bucket-{aws_account_id}-data/ice'
        TBLPROPERTIES(
            'write.merge.mode'='merge-on-read',
            'write.delete.mode'='merge-on-read',
            'write.update.mode'='merge-on-read'
        );
    """,
    "hql/pos.hql": """
        CREATE TABLE `db.pos` (
            `a` string,
            `c` string, -- after: a
            `d` string, -- after: c
            `b` string
        )
        USING iceberg;
    """,
    "hql/ice_ident.hql": """
        CREATE TABLE `db.ice_ident` (`z` string) USING iceberg;
    """,
    "hql/ice_err.hql": """
        CREATE TABLE `db.ice_err` (`q` bigint) USING iceberg;
    """,
    "hql/mig.hql": """
        CREATE TABLE `sdb.mig` (
            `m1` string,
            `m2` int,
            `day_rk` date
        )
        USING iceberg
        PARTITIONED BY (`day_rk`)
        TBLPROPERTIES('write.merge.mode'='merge-on-read');
    """,
    "hql/mig_seq.hql": """
        CREATE TABLE `sdb.mig_seq` (`m2` int, `m1` string) USING iceberg;
    """,
}

# (table_name, name, type, position, is_partition, field_id)
CAT_COLS = [
    ("sdb.raw_sales", "id", "int", 0, False, None),
    ("sdb.raw_sales", "amount", "double", 1, False, None),
    ("sdb.raw_sales", "rbs_trading_counterparty", "string", 2, False, None),
    ("sdb.raw_sales", "day_rk", "date", 0, True, None),
    ("sdb.quaterly_sales", "original_effective_maturity", "bigint", 0, False, None),
    ("sdb.quaterly_sales", "x", "string", 1, False, None),
    ("sdb.quaterly_sales", "day_rk", "date", 0, True, None),
    ("sdb.widen", "c1", "int", 0, False, None),
    ("sdb.widen", "c2", "float", 1, False, None),
    ("sdb.serde_tbl", "a", "string", 0, False, None),
    ("sdb.part_drift", "v", "string", 0, False, None),
    ("sdb.part_drift", "day_rk", "date", 0, True, None),
    ("sdb.part_order", "v", "string", 0, False, None),
    ("sdb.part_order", "day_rk", "date", 0, True, None),
    ("sdb.part_order", "run_rk", "int", 1, True, None),
    ("sdb.ident", "k", "int", 0, False, None),
    ("sdb.raw_sales2", "id", "int", 0, False, None),
    ("sdb.text_fmt", "t1", "string", 0, False, None),
    ("sdb.was_parquet", "t1", "string", 0, False, None),
    # live Iceberg: schema fields (is_partition=False, field_id = schema id)
    ("db.ice", "col1", "string", 0, False, 1),
    ("db.ice", "col2", "double", 1, False, 2),
    ("db.ice", "col3", "decimal(18, 7)", 2, False, 3),
    ("db.ice", "col4", "long", 3, False, 4),
    ("db.ice", "day_rk", "date", 4, False, 5),
    ("db.ice", "run_rk", "int", 5, False, 6),
    ("db.ice", "col6", "double", 6, False, 7),
    ("db.ice", "extra_catalog_col", "string", 7, False, 8),
    # + the default partition spec (is_partition=True, field_id = spec id)
    ("db.ice", "day_rk", "date", 0, True, 1000),
    ("db.pos", "a", "string", 0, False, 1),
    ("db.pos", "b", "string", 1, False, 2),
    ("db.pos", "c", "string", 2, False, 3),
    ("db.pos", "d", "string", 3, False, 4),
    ("db.ice_ident", "z", "string", 0, False, 1),
    ("db.ice_err", "q", "double", 0, False, 1),
    ("sdb.mig", "m1", "string", 0, False, None),
    ("sdb.mig", "m2", "int", 1, False, None),
    ("sdb.mig", "day_rk", "date", 0, True, None),
    ("sdb.mig_seq", "m1", "string", 0, False, None),
    ("sdb.mig_seq", "m2", "int", 1, False, None),
]

# (table_name, table_type, format, metadata_location, properties, version_id)
CAT_TABLES = [
    ("sdb.raw_sales", "EXTERNAL_TABLE", "PARQUET", None, {}, "3"),
    ("sdb.quaterly_sales", "EXTERNAL_TABLE", "PARQUET", None, {}, "5"),
    ("sdb.widen", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.serde_tbl", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.part_drift", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.part_order", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.ident", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.raw_sales2", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.text_fmt", "EXTERNAL_TABLE", "TEXT", None, {}, "1"),
    ("sdb.was_parquet", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("db.ice", "EXTERNAL_TABLE", "ICEBERG", "s3://b/meta.json",
     {"owner": "me", "write.parquet.compression-codec": "zstd"}, "7"),
    ("db.pos", "EXTERNAL_TABLE", "ICEBERG", "s3://b/meta2.json", {}, "1"),
    ("db.ice_ident", "EXTERNAL_TABLE", "ICEBERG", "s3://b/meta3.json",
     {"owner": "me"}, "1"),
    ("db.ice_err", "EXTERNAL_TABLE", "ICEBERG", "s3://b/meta4.json", {}, "1"),
    ("sdb.mig", "EXTERNAL_TABLE", "PARQUET", None, {}, "2"),
    ("sdb.mig_seq", "EXTERNAL_TABLE", "PARQUET", None, {}, "2"),
]


@pytest.fixture(scope="module")
def frames(spark):
    """(parsed, cat_cols, cat_tables) of the module corpus."""
    from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus

    corpus = corpus_from_rows(
        spark, [(p, d) for p, d in DDLS.items()], aws_account_id="123456789012"
    )
    parsed = parse_ddl_corpus(corpus).cache()
    cat_cols = local_frame(spark, CAT_COLS, COLS_SCHEMA)
    cat_tables = local_frame(spark, CAT_TABLES, TABLES_SCHEMA)
    yield parsed, cat_cols, cat_tables
    parsed.unpersist()


@pytest.fixture(scope="module")
def report(frames):
    """The module corpus's report, its success versions filled from the
    catalog snapshot as ``cli.run_alterator`` fills them."""
    from easy_alterator_spark.diff import build_report, hive_diff

    report = build_report(hive_diff(*frames))
    versions = {t: v for (t, _tt, _f, _m, _p, v) in CAT_TABLES}
    for e in report["success_tables"]:
        e["previous_version"] = e["current_version"] = versions[e["table_name"]]
    return report


def by_table(entries, name, key="table_name"):
    matches = [e for e in entries if (e[key] if isinstance(e, dict) else e) == name]
    assert matches, f"{name} not found in {entries}"
    return matches[0]


class TestHivePath:
    def test_success_add_delete(self, report):
        e = by_table(report["success_tables"], "sdb.raw_sales")
        assert e["previous_version"] == e["current_version"] == "3"
        assert e["details"]["add"] == [
            {"Name": "ile1", "Type": "string"},
            {"Name": "sovereign_guarantee_flag", "Type": "string"},
        ]
        assert e["details"]["delete"] == [
            {"Name": "rbs_trading_counterparty", "Type": "string"}
        ]

    def test_incompatible_skip(self, report):
        e = by_table(report["skipped_tables"], "sdb.quaterly_sales")
        assert e["reason"] == "IncompatibleDataTypeError"
        assert e["details"]["incompatible"] == [
            {
                "Name": "original_effective_maturity",
                "Type": "bigint",
                "updated_type": "double",
                "backfilled_from": None,
            }
        ]
        assert e["details"]["add"] == [{"Name": "ile1", "Type": "string"}]
        assert e["details"]["delete"] == []
        assert e["details"]["compatible"] == []

    def test_compatible_widening_merges_into_add_delete(self, report):
        e = by_table(report["success_tables"], "sdb.widen")
        assert sorted(a["Name"] for a in e["details"]["add"]) == ["c1", "c2"]
        assert {a["Name"]: a["Type"] for a in e["details"]["add"]} == {
            "c1": "bigint",
            "c2": "double",
        }
        assert {d["Name"]: d["Type"] for d in e["details"]["delete"]} == {
            "c1": "int",
            "c2": "float",
        }

    def test_serde_triple_is_parquet(self, report):
        e = by_table(report["success_tables"], "sdb.serde_tbl")
        assert e["details"]["add"] == [{"Name": "b", "Type": "string"}]

    def test_partition_added_is_validation_error(self, report):
        e = by_table(report["skipped_tables"], "sdb.part_drift")
        assert e["reason"] == "PartitionValidationError"
        assert "details" not in e

    def test_partition_reorder_is_order_error(self, report):
        e = by_table(report["skipped_tables"], "sdb.part_order")
        assert e["reason"] == "PartitionOrderValidationError"

    def test_identical(self, report):
        assert "sdb.ident" in report["identical_tables"]

    def test_new_table(self, report):
        assert "sdb.newtbl" in report["new_tables"]

    def test_non_create(self, report):
        e = by_table(report["skipped_tables"], "sdb.raw_sales")
        assert e["reason"] == "NonCreateSQL"
        assert e["filename"] == "hql/noncreate.hql"

    def test_name_not_extracted(self, report):
        e = by_table(report["skipped_tables"], "")
        assert e["reason"] == "TableNameNotExtracted"
        assert e["filename"] == "hql/noname.hql"

    def test_non_external_errors(self, report):
        assert "sdb.raw_sales2" in report["errored_tables"]

    def test_text_ddl_on_text_table_is_non_parquet(self, report):
        assert "sdb.text_fmt" in report["non_parquet_tables"]

    def test_text_ddl_on_parquet_table_is_format_change(self, report):
        e = by_table(report["format_changed_tables"], "sdb.was_parquet")
        assert e["old_format"] == "PARQUET" and e["new_format"] == "TEXT"


class TestIcebergPath:
    def test_full_example(self, report):
        e = by_table(report["iceberg_tables"], "glue_catalog.db.ice")
        cols = e["columns"]
        assert [c["name"] for c in cols["new"]] == ["new_col", "seq_col"]
        # DDL `timestamp` normalizes to the iceberg comparison vocab
        assert cols["new"][0]["type"] == "timestamptz"
        assert cols["new"][1]["after"] == "col3"
        assert cols["dropped"] == ["col2", "extra_catalog_col"]
        assert cols["renamed"] == [{"old_name": "col4", "new_name": "col5"}]
        assert cols["updated"]["incompatible"] == [
            {
                "name": "col6",
                "old_type": "double",
                "new_type": "long",
                "backfilled_from": "col6_hist",
            }
        ]
        assert "compatible" not in cols["updated"]
        # col6_hist is a backfill target, never a new column
        assert "col6_hist" not in [c["name"] for c in cols["new"]]
        assert e["partition_columns"]["new"] == [
            {"field_id": 1001, "name": "run_rk", "expr": "run_rk"}
        ]
        assert e["tblprops"]["new"] == {
            "write.merge.mode": "merge-on-read",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        }
        # compression-codec is a default prop; owner is stripped
        assert "removed" not in e["tblprops"]

    def test_position_cascade(self, report):
        e = by_table(report["iceberg_tables"], "glue_catalog.db.pos")
        assert e["columns"]["updated"]["position_changes"] == [
            {"name": "c", "after": "a", "reason": "direct"},
            {"name": "d", "after": "c", "reason": "cascade"},
        ]

    def test_iceberg_identical(self, report):
        assert "db.ice_ident" in report["identical_tables"]

    def test_backfill_missing_errors_single_table(self, report):
        e = by_table(report["errored_tables"], "db.ice_err")
        assert e["reason"] == "ValidationError"
        assert "backfilled_from" in e["error"]

    def test_migration_format_change_and_props(self, report):
        fc = by_table(report["format_changed_tables"], "sdb.mig")
        assert fc == {
            "old_format": "PARQUET",
            "new_format": "ICEBERG",
            "table_name": "sdb.mig",
        }
        e = by_table(report["iceberg_tables"], "glue_catalog.sdb.mig")
        assert e["migration"] == "True"
        assert e["tblprops"]["new"] == {"write.merge.mode": "merge-on-read"}
        assert "columns" not in e  # clean() drops the all-empty section

    def test_migration_sequence_mismatch(self, report):
        e = by_table(report["iceberg_tables"], "glue_catalog.sdb.mig_seq")
        assert e["sequenceMismatch"] == "True"


class TestOneCollect:
    def test_iceberg_tables_are_not_reported_identical(self, report):
        """The diff plan alone carries every Iceberg table's diff: the
        tables that change stay out of ``identical_tables``, and both
        migration tables are reported."""
        assert sorted(report["identical_tables"]) == ["db.ice_ident", "sdb.ident"]
        assert sorted(e["table_name"] for e in report["iceberg_tables"]) == [
            "glue_catalog.db.ice",
            "glue_catalog.db.pos",
            "glue_catalog.sdb.mig",
            "glue_catalog.sdb.mig_seq",
        ]

    def test_iceberg_diff_is_the_iceberg_column(self, frames):
        """``iceberg_diff`` is the non-NULL ``iceberg`` structs of the one
        diff plan: one per routed table, every other file's NULL."""
        from easy_alterator_spark.diff import hive_diff, iceberg_diff

        rows = hive_diff(*frames).select("file_path", "outcome", "iceberg").collect()
        routed = {r["file_path"] for r in rows if r["iceberg"] is not None}
        assert routed == {
            f"hql/{n}.hql" for n in ("ice", "pos", "ice_ident", "ice_err", "mig", "mig_seq")
        }
        assert {r["outcome"] for r in rows if r["iceberg"] is not None} == {"iceberg"}
        assert sorted(r["iceberg"] for r in rows if r["iceberg"] is not None) == sorted(
            iceberg_diff(*frames).collect()
        )


class TestStats:
    def test_counters(self, report):
        s = report["ResponseMetadata"]["stats"]
        assert s["num_updates"] == len(report["success_tables"])
        assert s["num_iceberg_tables"] == len(report["iceberg_tables"])
        assert s["num_tables_analyzed"] == sum(
            s[k]
            for k in (
                "num_updates",
                "num_skipped",
                "num_new",
                "num_errored",
                "num_identical",
                "num_non_parquet_tables",
                "num_iceberg_tables",
                "num_format_changed_tables",
            )
        )


class TestForceMode:
    def test_force_applies_incompatible_as_add_delete(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import build_report, hive_diff

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/f.hql",
                "CREATE EXTERNAL TABLE `fdb.t`(`m` double, `k` int) STORED AS PARQUET;",
            )],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [("fdb.t", "m", "bigint", 0, False, None), ("fdb.t", "k", "int", 1, False, None)],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("fdb.t", "EXTERNAL_TABLE", "PARQUET", None, {}, "9")],
            TABLES_SCHEMA,
        )
        # without force: skipped as incompatible
        plain = build_report(hive_diff(parsed, cat_cols, cat_tables))
        assert plain["skipped_tables"][0]["reason"] == "IncompatibleDataTypeError"
        # with force: success, the bigint->double change applied as
        # delete+add (alterator.py:644-659)
        forced = build_report(
            hive_diff(parsed, cat_cols, cat_tables, force=True), force=True
        )
        e = forced["success_tables"][0]
        assert e["details"]["add"] == [{"Name": "m", "Type": "double"}]
        assert e["details"]["delete"] == [{"Name": "m", "Type": "bigint"}]
        assert forced["ResponseMetadata"]["force"] is True


class TestDuplicateFiles:
    def test_two_iceberg_files_same_table_pick_last(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import build_report, hive_diff, iceberg_diff

        corpus = corpus_from_rows(
            spark,
            [
                ("hql/a_old.hql", "CREATE TABLE `ddb.t` (`x` string, `stale` int) USING iceberg;"),
                ("hql/b_new.hql", "CREATE TABLE `ddb.t` (`x` string, `fresh` int) USING iceberg;"),
            ],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [("ddb.t", "x", "string", 0, False, 1)],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("ddb.t", "EXTERNAL_TABLE", "ICEBERG", "s3://m", {}, "1")],
            TABLES_SCHEMA,
        )
        rows = iceberg_diff(parsed, cat_cols, cat_tables).collect()
        assert len(rows) == 1
        # lexically-last file wins; no cross-file contamination
        assert [c["name"] for c in rows[0]["new_cols"]] == ["fresh"]
        # the report lists the table once, with the last file's entry
        report = build_report(hive_diff(parsed, cat_cols, cat_tables))
        [e] = report["iceberg_tables"]
        assert [c["name"] for c in e["columns"]["new"]] == ["fresh"]
        stats = report["ResponseMetadata"]["stats"]
        assert stats["num_iceberg_tables"] == 1
        assert stats["num_tables_analyzed"] == 1

    def test_hive_file_for_an_iceberg_table_stays_off_the_iceberg_path(self, spark):
        """An Iceberg and a Hive CREATE file name one Iceberg table. Only
        the Iceberg file is diffed on the Iceberg path, even though the
        Hive file sorts last: its result is identical, with no missing
        backfill error and no column taken from the Hive DDL."""
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import build_report, hive_diff, iceberg_diff

        parsed = parse_ddl_corpus(
            corpus_from_rows(
                spark,
                [
                    ("hql/a.hql", "CREATE TABLE `db.t` (`id` bigint, `x` string) USING iceberg;"),
                    ("hql/b.hql", "CREATE TABLE `db.t` (`id` int, `zzz` double) STORED AS PARQUET;"),
                ],
            )
        )
        cat_cols = local_frame(
            spark,
            [("db.t", "id", "long", 0, False, 1), ("db.t", "x", "string", 1, False, 2)],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("db.t", "EXTERNAL_TABLE", "ICEBERG", "s3://m", {}, "1")], TABLES_SCHEMA
        )
        ice = iceberg_diff(parsed, cat_cols, cat_tables)
        [row] = ice.collect()
        assert (row["error"], row["new_cols"], row["dropped"], row["incompatible"]) == (
            None, None, None, None,
        )
        report = build_report(hive_diff(parsed, cat_cols, cat_tables))
        assert report["identical_tables"] == ["db.t"]
        assert report["iceberg_tables"] == []
        # the Hive file alone: a managed CREATE is errored on the Hive path
        assert report["errored_tables"] == ["db.t"]


class TestNestedTypes:
    """Complex array<>/struct<>/map<> columns parse and diff end-to-end.

    Closes the reference's silent nested-type gap (SURVEY.md §1.3;
    reference src/bin/alterator.py:75-78 drops such columns from the
    parse entirely, so they'd be reported as deleted)."""

    @pytest.fixture(scope="class")
    def nested_report(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import build_report, hive_diff

        # ev: unchanged modulo whitespace; tags: add; old_nested: delete;
        # meta: nested type CHANGE (decimal field widened inside a struct
        # — must be INCOMPATIBLE, not waved through the widening quirk)
        corpus = corpus_from_rows(
            spark,
            [(
                "hql/nested.hql",
                """CREATE EXTERNAL TABLE `ndb.nested`(
                    `id` int,
                    `ev` array< struct<k: string, v: int> >,
                    `tags` map<string, int>,
                    `deep` map<string,array<struct<k:string,v:double>>>,
                    `meta` struct<a:decimal(12,2)>
                ) STORED AS PARQUET LOCATION 's3://b/nested';""",
            )],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [
                ("ndb.nested", "id", "int", 0, False, None),
                ("ndb.nested", "ev", "array<struct<k:string,v:int>>", 1, False, None),
                ("ndb.nested", "deep", "map<string,array<struct<k:string,v:double>>>", 2, False, None),
                ("ndb.nested", "meta", "struct<a:decimal(10,2)>", 3, False, None),
                ("ndb.nested", "old_nested", "array<int>", 4, False, None),
            ],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("ndb.nested", "EXTERNAL_TABLE", "PARQUET", None, {}, "4")],
            TABLES_SCHEMA,
        )
        return build_report(hive_diff(parsed, cat_cols, cat_tables))

    def test_parse_preserves_nested_types(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus

        corpus = corpus_from_rows(
            spark,
            [("hql/p.hql", "CREATE EXTERNAL TABLE `p.t`(`a` array<struct<x:int,y:map<string,date>>>, `b` int) STORED AS PARQUET;")],
        )
        [row] = parse_ddl_corpus(corpus).collect()
        assert [(c["name"], c["type"]) for c in row["columns"]] == [
            ("a", "array<struct<x:int,y:map<string,date>>>"),
            ("b", "int"),
        ]

    def test_nested_change_is_incompatible_skip(self, nested_report):
        e = by_table(nested_report["skipped_tables"], "ndb.nested")
        assert e["reason"] == "IncompatibleDataTypeError"
        inc = e["details"]["incompatible"]
        assert [c["Name"] for c in inc] == ["meta"]
        assert inc[0]["Type"] == "struct<a:decimal(10,2)>"
        assert inc[0]["updated_type"] == "struct<a:decimal(12,2)>"

    def test_nested_add_delete_whitespace_insensitive(self, nested_report):
        e = by_table(nested_report["skipped_tables"], "ndb.nested")
        # ev/deep unchanged (modulo whitespace) -> neither add nor delete
        assert [c["Name"] for c in e["details"]["add"]] == ["tags"]
        assert e["details"]["add"][0]["Type"] == "map<string, int>"
        assert [c["Name"] for c in e["details"]["delete"]] == ["old_nested"]

    def test_nested_no_change_is_identical(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import build_report, hive_diff

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/same.hql",
                "CREATE EXTERNAL TABLE `ndb.same`(`ev` Array< Struct<K: string, V: int> >) STORED AS PARQUET;",
            )],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [("ndb.same", "ev", "array<struct<k:string,v:int>>", 0, False, None)],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("ndb.same", "EXTERNAL_TABLE", "PARQUET", None, {}, "1")],
            TABLES_SCHEMA,
        )
        rep = build_report(hive_diff(parsed, cat_cols, cat_tables))
        assert [t for t in rep["identical_tables"]] == ["ndb.same"]

    def test_nested_iceberg_add_and_identity(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import iceberg_diff

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/ni.hql",
                """CREATE TABLE `ndb.ni` (
                    `ev` array<struct<k: string, v: int>>,
                    `tags` map<string, bigint>
                ) USING iceberg;""",
            )],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [("ndb.ni", "ev", "array<struct<k:string,v:int>>", 0, False, 1)],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("ndb.ni", "EXTERNAL_TABLE", "ICEBERG", "s3://m", {}, "1")],
            TABLES_SCHEMA,
        )
        [row] = iceberg_diff(parsed, cat_cols, cat_tables).collect()
        # ev identical after canonicalization; tags is the only add, its
        # type in canonical comparison vocabulary
        assert [c["name"] for c in row["new_cols"]] == ["tags"]
        assert row["new_cols"][0]["type"] == "map<string,bigint>"
        assert not row["dropped"]

    def test_spark_parses_every_nested_type_we_emit(self, spark):
        from easy_alterator_spark.ddl.types import parse_type_ddl

        for t in [
            "array<struct<k:string,v:int>>",
            "map<string,array<struct<k:string,v:double>>>",
            "struct<a:decimal(12,2)>",
            "map<string, int>",
        ]:
            parse_type_ddl(t)  # raises on malformed


class TestIcebergPartitionTransforms:
    """Transform partition fields (days/bucket/truncate/...) parse and
    diff end-to-end — the partition-side twin of the nested-type gap:
    round-2 parsing matched only the inner backticked column, so
    `days(ts)` diffed as an identity field named ts and produced a
    false rename against the catalog's ts_day."""

    def _diff(self, spark, part_clause, cat_parts):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.diff import iceberg_diff

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/tr.hql",
                f"CREATE TABLE `tdb.tr` (`ts` timestamp, `id` int, `region` string) "
                f"USING iceberg PARTITIONED BY ({part_clause});",
            )],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [
                ("tdb.tr", "ts", "timestamptz", 0, False, 1),
                ("tdb.tr", "id", "int", 1, False, 2),
                ("tdb.tr", "region", "string", 2, False, 3),
            ]
            + cat_parts,
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("tdb.tr", "EXTERNAL_TABLE", "ICEBERG", "s3://m", {}, "1")],
            TABLES_SCHEMA,
        )
        [row] = iceberg_diff(parsed, cat_cols, cat_tables).collect()
        return row

    def test_parse_canonical_names_and_exprs(self, spark):
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/p.hql",
                "CREATE TABLE `p.t` (`a` int) USING iceberg PARTITIONED BY "
                "(days(`ts`), bucket(16, `id`), truncate(4, `name`), `region`, months(`ts`));",
            )],
        )
        [row] = parse_ddl_corpus(corpus).collect()
        parts = [
            (p["field_id"], p["name"], p["transform"], p["expr"])
            for p in row["iceberg_partitions"]
        ]
        assert parts == [
            (1000, "ts_day", "day", "days(`ts`)"),
            (1001, "id_bucket", "bucket[16]", "bucket(16, `id`)"),
            (1002, "name_trunc", "truncate[4]", "truncate(4, `name`)"),
            (1003, "region", "identity", "region"),
            (1004, "ts_month", "month", "months(`ts`)"),
        ]

    def test_unchanged_transform_fields_are_not_diffed(self, spark):
        row = self._diff(
            spark,
            "days(`ts`), `region`",
            [("tdb.tr", "ts_day", "", 0, True, 1000),
             ("tdb.tr", "region", "", 1, True, 1001)],
        )
        assert not row["part_new"] and not row["part_dropped"]
        assert not row["part_replaced"]

    def test_new_transform_field_carries_render_expr(self, spark):
        from easy_alterator_spark.ddl.render import iceberg_alter_statements

        row = self._diff(
            spark,
            "days(`ts`), bucket(16, `id`)",
            [("tdb.tr", "ts_day", "", 0, True, 1000)],
        )
        assert [(p["name"], p["expr"]) for p in row["part_new"]] == [
            ("id_bucket", "bucket(16, `id`)")
        ]
        entry = {
            "table_name": "tdb.tr",
            "partition_columns": {
                "new": [{"field_id": 1001, "name": "id_bucket", "expr": "bucket(16, `id`)"}]
            },
        }
        stmts = iceberg_alter_statements(entry)
        assert "ALTER TABLE `tdb`.`tr` ADD PARTITION FIELD bucket(16, `id`)" in stmts

    def test_transform_change_is_replace(self, spark):
        row = self._diff(
            spark,
            "months(`ts`)",
            [("tdb.tr", "ts_day", "", 0, True, 1000)],
        )
        assert [
            (p["old_name"], p["new_name"]) for p in row["part_replaced"]
        ] == [("ts_day", "ts_month")]
        # ADVICE r3: the replaced struct must carry the parsed transform
        # expr — the WITH clause needs months(`ts`), not the derived
        # field name (a column that does not exist)
        assert [p["expr"] for p in row["part_replaced"]] == ["months(`ts`)"]

    def test_transform_replace_renders_with_expr(self):
        from easy_alterator_spark.ddl.render import iceberg_alter_statements

        entry = {
            "table_name": "tdb.tr",
            "partition_columns": {
                "replaced": [
                    {"old_name": "ts_day", "new_name": "ts_month",
                     "expr": "months(`ts`)"},
                    # identity rename: no transform — quoted name
                    {"old_name": "region", "new_name": "geo", "expr": "geo"},
                ]
            },
        }
        stmts = iceberg_alter_statements(entry)
        assert (
            "ALTER TABLE `tdb`.`tr` REPLACE PARTITION FIELD `ts_day` WITH months(`ts`)"
            in stmts
        )
        assert (
            "ALTER TABLE `tdb`.`tr` REPLACE PARTITION FIELD `region` WITH `geo`"
            in stmts
        )

    def test_nested_widening_end_to_end(self, spark):
        """array<int> -> array<bigint> (Iceberg-legal element widening)
        must classify COMPATIBLE on the iceberg path and render
        ALTER COLUMN ... TYPE; an illegal nested change (int->string
        inside the array) stays incompatible. r3 verdict task 5."""
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
        from easy_alterator_spark.ddl.render import iceberg_alter_statements
        from easy_alterator_spark.diff import iceberg_diff
        from easy_alterator_spark.diff.report import _row_to_iceberg_entry

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/nw.hql",
                "CREATE TABLE `tdb.nw` (`a` array<bigint>, `b` struct<x:decimal(12,2)>, "
                "`c` map<string,array<string>>) USING iceberg;",
            )],
        )
        parsed = parse_ddl_corpus(corpus)
        cat_cols = local_frame(
            spark,
            [
                ("tdb.nw", "a", "array<int>", 0, False, 1),
                ("tdb.nw", "b", "struct<x:decimal(10,2)>", 1, False, 2),
                ("tdb.nw", "c", "map<string,array<int>>", 2, False, 3),
            ],
            COLS_SCHEMA,
        )
        cat_tables = local_frame(
            spark,
            [("tdb.nw", "EXTERNAL_TABLE", "ICEBERG", "s3://m", {}, "1")],
            TABLES_SCHEMA,
        )
        [row] = iceberg_diff(parsed, cat_cols, cat_tables).collect()
        entry = _row_to_iceberg_entry(row)
        upd = entry["columns"]["updated"]
        compat = {c["name"]: c["new_type"] for c in upd.get("compatible", [])}
        assert compat == {
            "a": "array<bigint>",
            "b": "struct<x:decimal(12,2)>",
        }
        incompat = [c["name"] for c in upd.get("incompatible", [])]
        assert incompat == ["c"]  # array<int> -> array<string> is illegal
        stmts = iceberg_alter_statements(entry)
        assert (
            "ALTER TABLE `glue_catalog`.`tdb`.`nw` ALTER COLUMN `a` TYPE array<bigint>"
            in stmts
        )
        assert (
            "ALTER TABLE `glue_catalog`.`tdb`.`nw` ALTER COLUMN `b` "
            "TYPE struct<x:decimal(12,2)>" in stmts
        )

    def test_nested_widening_column_matches_python(self, spark):
        """Cross-pin: the Column classifier and the driver-side Python
        twin agree on a grid of nested pairs (both engines)."""
        from easy_alterator_spark.ddl import types as TY
        from pyspark.sql import functions as F

        pairs = [
            ("array<int>", "array<bigint>"),
            ("array<int>", "array<long>"),
            ("array<bigint>", "array<int>"),
            ("array<int>", "array<string>"),
            ("struct<a:int,b:string>", "struct<a:bigint,b:string>"),
            ("struct<a:int>", "struct<b:int>"),
            ("struct<a:int>", "struct<a:int,b:int>"),
            ("struct<a:decimal(10,2)>", "struct<a:decimal(12,2)>"),
            ("struct<a:decimal(10,2)>", "struct<a:decimal(12,3)>"),
            ("map<string,array<struct<k:string,v:int>>>",
             "map<string,array<struct<k:string,v:bigint>>>"),
            ("map<string,int>", "map<int,bigint>"),
            ("array<long>", "array<bigint>"),
            ("array<float>", "array<double>"),
            ("int", "bigint"),
            ("array<int>", "int"),
        ]
        df = spark.createDataFrame(pairs, "old string, new string")
        for engine in ("iceberg", "athena"):
            got = {
                (r["old"], r["new"]): r["ok"]
                for r in df.select(
                    "old", "new",
                    TY.is_compatible_col(F.col("old"), F.col("new"), engine).alias("ok"),
                ).collect()
            }
            for o, n in pairs:
                assert got[(o, n)] == TY.is_compatible(o, n, engine), (engine, o, n)

    def test_commented_transform_entry_keeps_canonical_name(self, spark):
        # ADVICE r3: '-- days(`ts`)' must parse as a commented ts_day
        # transform entry, not a commented identity 'ts'
        from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus

        corpus = corpus_from_rows(
            spark,
            [(
                "hql/c.hql",
                "CREATE TABLE `p.t` (`a` int) USING iceberg PARTITIONED BY "
                "(`region`, -- days(`ts`),\n--bucket(16, `id`)\n);",
            )],
        )
        [row] = parse_ddl_corpus(corpus).collect()
        parts = [
            (p["name"], p["transform"], p["commented"])
            for p in row["iceberg_partitions"]
        ]
        assert parts == [
            ("region", "identity", False),
            ("ts_day", "day", True),
            ("id_bucket", "bucket[16]", True),
        ]
