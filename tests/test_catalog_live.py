"""Live-catalog wiring tests for the run_alterator pipeline:

- ICEBERG tables snapshot their columns/partition-spec/properties from
  metadata.json (REAL field ids), not from the describe — a
  NULL-field-id snapshot makes every partition field look
  simultaneously new and dropped and would apply spurious ADD/DROP
  PARTITION FIELD.
- migration (still-Hive) tables are report-only during apply.
- one failing table's ALTER must not abort the remaining tables.
- hive-provider tables are only PARQUET when the SerDe triple says so.
- every table is read with one existence check plus one JSON describe,
  whose types and properties come back whole.
- a Glue-backed session brackets with native Glue version ids.
- a validate run over a small mixed corpus launches no Spark job.
- each live snapshot frame is one local relation, so collecting it runs
  no job and the diff over it starts no Python worker.
- the DDL files are read on the driver: an empty file is reported, a
  missing one raises a named error, and ``file_path`` keeps the URI
  form ``input_file_name`` gave.
"""

from __future__ import annotations

import json

import pytest

ICE_METADATA = {
    "format-version": 2,
    "current-schema-id": 0,
    "schemas": [
        {
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "col1", "required": False, "type": "string"},
                {"id": 2, "name": "amount", "required": False, "type": "long"},
                {"id": 3, "name": "day_rk", "required": False, "type": "date"},
            ],
        },
    ],
    "default-spec-id": 0,
    "partition-specs": [
        {
            "spec-id": 0,
            "fields": [
                {"field-id": 1000, "name": "day_rk", "transform": "identity", "source-id": 3}
            ],
        }
    ],
    "properties": {"owner": "someone", "write.merge.mode": "merge-on-read"},
}


@pytest.fixture(scope="module")
def db(spark):
    name = "ea_cat_live_test"
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    spark.sql(f"CREATE DATABASE {name}")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


@pytest.fixture(scope="module")
def ice_table(spark, db, tmp_path_factory):
    """A session-catalog table that LOOKS like a live Glue Iceberg
    table: table_type=ICEBERG + metadata_location properties (the
    engine never needs the Iceberg runtime jar to diff it)."""
    meta = tmp_path_factory.mktemp("icelive") / "v3.metadata.json"
    meta.write_text(json.dumps(ICE_METADATA))
    t = f"{db}.ice_live"
    # NB: Spark's session catalog reserves `table_type`, so the
    # iceberg marker here is metadata_location alone (catalog.py
    # detects either).
    spark.sql(
        f"CREATE TABLE {t} (col1 STRING, amount BIGINT, day_rk DATE) USING parquet "
        f"TBLPROPERTIES ('metadata_location'='{meta}')"
    )
    return t


class TestIcebergSnapshot:
    def test_snapshot_uses_metadata_field_ids(self, spark, ice_table):
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        cat_cols, cat_tables = snapshot_catalog(spark, [ice_table])
        rows = {(r["name"], r["is_partition"]): r for r in cat_cols.collect()}
        # schema fields carry the metadata.json ids and TYPE VOCABULARY
        assert rows[("amount", False)]["field_id"] == 2
        assert rows[("amount", False)]["type"] == "long"
        # partition spec row exists with its real iceberg field id
        assert rows[("day_rk", True)]["field_id"] == 1000
        tbl = cat_tables.collect()[0]
        assert tbl["format"] == "ICEBERG"
        # properties come from metadata.json (owner stripped)
        assert tbl["properties"] == {"write.merge.mode": "merge-on-read"}

    def test_missing_metadata_file_names_the_table(self, spark, db, tmp_path):
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        t = f"{db}.ice_gone"
        meta = tmp_path / "gone" / "v1.metadata.json"
        spark.sql(
            f"CREATE TABLE {t} (col1 STRING) USING parquet "
            f"TBLPROPERTIES ('metadata_location'='{meta}')"
        )
        with pytest.raises(FileNotFoundError) as err:
            snapshot_catalog(spark, [t])
        assert t in str(err.value) and str(meta) in str(err.value)

    def test_identical_ddl_yields_no_partition_churn(self, spark, ice_table, tmp_path):
        """The ADVICE scenario: with NULL field ids the partition field
        would report as BOTH new and dropped. With metadata wiring the
        diff is clean."""
        from easy_alterator_spark.cli import run_alterator

        ddl = tmp_path / "ice_live.hql"
        ddl.write_text(
            f"""
            CREATE TABLE `{ice_table}` (
                `col1` string,
                `amount` bigint,
                `day_rk` date,
            ) USING iceberg
            PARTITIONED BY (`day_rk`)
            TBLPROPERTIES('write.merge.mode'='merge-on-read');
            """
        )
        report = run_alterator(spark, [str(ddl)], validate=True)
        # with real field ids the diff is CLEAN: the table is identical
        # (a NULL-field-id snapshot would emit an iceberg entry with
        # day_rk both new and dropped)
        assert report["identical_tables"] == [ice_table]
        assert report["iceberg_tables"] == []


class TestApplyGuards:
    def test_migration_tables_are_report_only(self, spark, db, tmp_path):
        # catalog table is plain parquet; DDL says iceberg -> migration.
        # Apply must NOT run iceberg DDL against the still-Hive table.
        from easy_alterator_spark.cli import run_alterator

        t = f"{db}.mig_t"
        spark.sql(f"CREATE TABLE {t} (id INT, v STRING) USING parquet")
        ddl = tmp_path / "mig_t.hql"
        ddl.write_text(
            f"""
            CREATE TABLE `{t}` (
                `id` int,
                `v` string,
            ) USING iceberg
            TBLPROPERTIES('write.merge.mode'='merge-on-read');
            """
        )
        report = run_alterator(spark, [str(ddl)], validate=False)
        e = report["iceberg_tables"][0]
        assert e["migration"] == "True"
        # a tblprops delta exists, but migration entries are report-only
        assert report["applied_statements"] == []
        assert "apply_errors" not in report

    def test_one_failing_table_does_not_abort_the_rest(
        self, spark, db, tmp_path, monkeypatch
    ):
        from easy_alterator_spark.cli import run_alterator
        from easy_alterator_spark.diff import catalog as cat_mod

        good, bad = f"{db}.app_good", f"{db}.app_bad"
        spark.sql(f"CREATE TABLE {good} (id INT) USING parquet")
        spark.sql(f"CREATE TABLE {bad} (id INT) USING parquet")
        for t in ("app_good", "app_bad"):
            (tmp_path / f"{t}.hql").write_text(
                f"CREATE EXTERNAL TABLE `{db}.{t}`(`id` int, `n1` string) "
                "STORED AS PARQUET;"
            )

        real_apply = cat_mod.apply_statements

        def flaky_apply(spark_, stmts):
            if any("app_bad" in s for s in stmts):
                raise RuntimeError("boom: catalog rejected the ALTER")
            return real_apply(spark_, stmts)

        monkeypatch.setattr(cat_mod, "apply_statements", flaky_apply)
        report = run_alterator(spark, [str(tmp_path)], validate=False)
        assert list(report["apply_errors"]) == [bad]
        assert any("app_good" in s for s in report["applied_statements"])
        # the good table actually got its column
        assert [c.name for c in spark.catalog.listColumns(good)] == ["id", "n1"]


class TestTableFormat:
    def test_non_parquet_provider_not_classified_parquet(self, spark, db):
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        t = f"{db}.csv_t"
        spark.sql(f"CREATE TABLE {t} (id INT, v STRING) USING csv")
        _, cat_tables = snapshot_catalog(spark, [t])
        assert cat_tables.collect()[0]["format"] != "PARQUET"

    @pytest.mark.parametrize(
        "desc, fmt",
        [
            ({"provider": "iceberg"}, "ICEBERG"),
            ({"provider": "hive", "table_properties": {"table_type": "iceberg"}}, "ICEBERG"),
            ({"provider": "parquet", "table_properties": {"metadata_location": "/m"}}, "ICEBERG"),
            ({"provider": "PARQUET"}, "PARQUET"),
            (
                {
                    "provider": "hive",
                    "input_format": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
                    "output_format": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
                    "serde_library": "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
                },
                "PARQUET",
            ),
            (
                {
                    "provider": "hive",
                    "input_format": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
                    "output_format": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
                    "serde_library": "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
                },
                "TEXT",
            ),
            ({"provider": "hive", "input_format": "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat"}, "ORC"),
            ({"provider": "hive", "input_format": "org.apache.hadoop.mapred.SequenceFileInputFormat"}, "SEQUENCEFILE"),
            ({"provider": "csv"}, "TEXT"),
            ({}, "TEXT"),
        ],
    )
    def test_format_rules(self, desc, fmt):
        from easy_alterator_spark.diff.catalog import _table_format

        assert _table_format(desc) == fmt

    def test_property_values_survive_snapshot(self, spark, db):
        """Property values holding commas and ``=`` come back whole."""
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        t = f"{db}.props_t"
        spark.sql(
            f"CREATE TABLE {t} (id INT) USING parquet TBLPROPERTIES ("
            "'cols'='a,b,c', 'note'='a, b=c', 'write.merge.mode'='merge-on-read')"
        )
        _, cat_tables = snapshot_catalog(spark, [t])
        props = cat_tables.collect()[0]["properties"]
        assert props["cols"] == "a,b,c"
        assert props["note"] == "a, b=c"
        assert props["write.merge.mode"] == "merge-on-read"
        assert "b" not in props


WIDE = ",".join(f"f{i}:int" for i in range(30))


class TestColumnTypes:
    def test_snapshot_types_match_spark_schema(self, spark, db):
        """Differential: each snapshot type is the column's full
        ``simpleString``, for every type the DDL grammar accepts."""
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        t = f"{db}.all_types"
        spark.sql(
            f"""CREATE TABLE {t} (
                ti TINYINT, si SMALLINT, i INT, bi BIGINT, fl FLOAT, db DOUBLE,
                de DECIMAL(10,2), dw DECIMAL(38,0), s STRING, ch CHAR(5), vc VARCHAR(10),
                bin BINARY, bo BOOLEAN, d DATE, ts TIMESTAMP, tn TIMESTAMP_NTZ,
                ids INTERVAL DAY TO SECOND, iym INTERVAL YEAR TO MONTH, ih INTERVAL HOUR,
                nest ARRAY<MAP<STRING, STRUCT<x: INT, `y z`: DECIMAL(5,1)>>>,
                `sp ace` INT, w STRUCT<{WIDE}>, part STRING
            ) USING parquet PARTITIONED BY (part)"""
        )
        cat_cols, _ = snapshot_catalog(spark, [t])
        rows = cat_cols.orderBy("is_partition", "position").collect()
        schema = spark.table(t).schema
        assert [(r["name"], r["type"]) for r in rows] == [
            (f.name, f.dataType.simpleString()) for f in schema
        ]
        assert [(r["position"], r["is_partition"]) for r in rows][-2:] == [(21, False), (0, True)]
        assert dict((r["name"], r["type"]) for r in rows)["w"] == f"struct<{WIDE}>"

    def test_char_varchar_types_when_preserved(self, spark, db):
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        t = f"{db}.char_types"
        spark.conf.set("spark.sql.preserveCharVarcharTypeInfo", "true")
        try:
            spark.sql(f"CREATE TABLE {t} (c CHAR(5), v VARCHAR(10), a ARRAY<VARCHAR(3)>) USING parquet")
            cat_cols, _ = snapshot_catalog(spark, [t])
            types = [r["type"] for r in cat_cols.orderBy("position").collect()]
            assert types == [f.dataType.simpleString() for f in spark.table(t).schema]
            assert types == ["char(5)", "varchar(10)", "array<varchar(3)>"]
        finally:
            spark.conf.unset("spark.sql.preserveCharVarcharTypeInfo")

    def test_identical_wide_struct_ddl_is_identical(self, spark, db, tmp_path):
        """A struct wider than Spark's 25-field print limit diffs on its
        full type: the same DDL is identical, and a widened sibling
        column is a compatible change."""
        from easy_alterator_spark.cli import run_alterator

        t = f"{db}.wide_t"
        spark.sql(f"CREATE TABLE {t} (id INT, w STRUCT<{WIDE}>) USING parquet")
        for id_type, outcome in (("int", "identical_tables"), ("bigint", "success_tables")):
            (tmp_path / "wide_t.hql").write_text(
                f"CREATE EXTERNAL TABLE `{t}`(`id` {id_type}, `w` struct<{WIDE}>) STORED AS PARQUET;"
            )
            report = run_alterator(spark, [str(tmp_path)], validate=True)
            assert report["skipped_tables"] == []
            assert [e if isinstance(e, str) else e["table_name"] for e in report[outcome]] == [t]


class TestCatalogCalls:
    def test_one_exists_and_one_describe_per_table(self, spark, db, monkeypatch):
        """snapshot_catalog and table_version read an existing table with
        one tableExists plus one DESCRIBE, a missing one with the
        tableExists alone, and never call listColumns."""
        from pyspark.sql import SparkSession
        from pyspark.sql.catalog import Catalog

        from easy_alterator_spark.diff import catalog as cat

        a, b, missing = f"{db}.calls_a", f"{db}.calls_b", f"{db}.calls_missing"
        spark.sql(f"CREATE TABLE {a} (id INT) USING parquet")
        spark.sql(f"CREATE TABLE {b} (id INT, p STRING) USING parquet PARTITIONED BY (p)")
        calls = {"tableExists": 0, "listColumns": 0, "DESCRIBE": 0}

        def counted(cls, attr, key):
            real = getattr(cls, attr)

            def wrapper(self, *args, **kwargs):
                if key(args):
                    calls[key(args)] += 1
                return real(self, *args, **kwargs)

            monkeypatch.setattr(cls, attr, wrapper)

        for attr in ("tableExists", "listColumns"):
            counted(Catalog, attr, lambda args, attr=attr: attr)
        counted(
            SparkSession,
            "sql",
            lambda args: "DESCRIBE" if str(args[0]).lstrip().upper().startswith("DESCRIBE") else None,
        )
        monkeypatch.setattr(cat, "GLUE_CLIENT", None)

        cat.snapshot_catalog(spark, [a, b, missing])
        assert calls == {"tableExists": 3, "listColumns": 0, "DESCRIBE": 2}
        assert cat.table_version(spark, a) is not None
        assert cat.table_version(spark, missing) is None
        assert calls == {"tableExists": 5, "listColumns": 0, "DESCRIBE": 3}


class TestGlueBacked:
    def test_glue_session_brackets_with_glue_version(self, spark, db, monkeypatch):
        """get_spark(glue=True)'s factory setting routes table_version to
        the native Glue VersionId."""
        from easy_alterator_spark.diff import catalog as cat
        from easy_alterator_spark.session import GLUE_CONFS

        [key] = [k for k in GLUE_CONFS if k.endswith("metastore.client.factory.class")]
        t = f"{db}.glue_t"
        spark.sql(f"CREATE TABLE {t} (id INT) USING parquet")
        monkeypatch.setattr(cat, "GLUE_CLIENT", None)
        monkeypatch.setattr(cat, "glue_table_version", lambda table: f"v-{table}")
        assert cat.table_version(spark, t) != f"v-{t}"
        spark.conf.set(key, GLUE_CONFS[key])
        try:
            assert cat.table_version(spark, t) == f"v-{t}"
        finally:
            spark.conf.unset(key)


class TestNoPythonWorker:
    def test_diff_over_live_snapshot_scans_no_python_rdd(self, spark, db, ice_table, tmp_path):
        """The DDL files and the snapshot rows cross to the JVM over
        Arrow: each snapshot frame, the Iceberg table's metadata.json rows
        included, is one local relation that collects with no Spark job,
        and the executed diff holds no Python RDD scan (``ExistingRDD``)
        and no Python evaluation node."""
        from easy_alterator_spark.ddl.parser import parse_ddl_corpus, read_ddl_corpus
        from easy_alterator_spark.diff import hive_diff
        from easy_alterator_spark.diff.catalog import snapshot_catalog
        from easy_alterator_spark.files import filter_ddl_files
        from easy_alterator_spark.plans.audit import executed_plan

        t = f"{db}.nopy_hive"
        spark.sql(f"CREATE TABLE {t} (id INT) USING parquet")
        (tmp_path / "hive.hql").write_text(
            f"CREATE EXTERNAL TABLE `{t}`(`id` int, `n1` string) STORED AS PARQUET;"
        )
        (tmp_path / "ice.hql").write_text(
            f"CREATE TABLE `{ice_table}` (`col1` string, `amount` bigint, `day_rk` date)"
            " USING iceberg PARTITIONED BY (`day_rk`);"
        )
        parsed = parse_ddl_corpus(read_ddl_corpus(spark, filter_ddl_files([str(tmp_path)])))
        cat_cols, cat_tables = snapshot_catalog(spark, [t, ice_table])
        sc = spark.sparkContext
        group = "test-snapshot-collect-jobs"
        sc.setJobGroup(group, "cat_cols.collect()")
        try:
            rows = cat_cols.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert {r["table_name"] for r in rows} == {t, ice_table}
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert "Union" not in executed_plan(cat_cols)
        for frame in (cat_cols, cat_tables):
            plan = executed_plan(frame)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

        plan = executed_plan(hive_diff(parsed, cat_cols, cat_tables))
        for node in ("ExistingRDD", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert node not in plan, node


class TestRunJobs:
    def test_validate_run_job_count(self, spark, db, ice_table, tmp_path):
        """run_alterator(validate=True) over a Hive add, an Iceberg column
        move and a new table runs no Spark job: the DDL files and the
        snapshot, Iceberg metadata.json included, are read on the driver,
        and the optimizer evaluates the parse and the diff over those
        local rows. Counted through a job group, which host load cannot
        move."""
        from easy_alterator_spark.cli import run_alterator

        t = f"{db}.jobs_hive"
        spark.sql(f"CREATE TABLE {t} (id INT) USING parquet")
        (tmp_path / "hive.hql").write_text(
            f"CREATE EXTERNAL TABLE `{t}`(`id` int, `n1` string) STORED AS PARQUET;"
        )
        (tmp_path / "ice.hql").write_text(
            f"""CREATE TABLE `{ice_table}` (
                `col1` string,
                `day_rk` date, -- after: col1
                `amount` bigint,
            ) USING iceberg
            PARTITIONED BY (`day_rk`)
            TBLPROPERTIES('write.merge.mode'='merge-on-read');"""
        )
        (tmp_path / "new.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.jobs_new`(`id` int) STORED AS PARQUET;"
        )
        sc = spark.sparkContext
        group = "test-run-alterator-jobs"
        sc.setJobGroup(group, "run_alterator(validate=True)")
        try:
            report = run_alterator(spark, [str(tmp_path)], validate=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)

        assert [e["table_name"] for e in report["success_tables"]] == [t]
        assert report["new_tables"] == [f"{db}.jobs_new"]
        [e] = report["iceberg_tables"]
        assert e["columns"]["updated"]["position_changes"] == [
            {"name": "day_rk", "after": "col1", "reason": "direct"}
        ]
        assert len(jobs) == 0


class TestDdlRead:
    def test_empty_file_is_reported_not_dropped(self, spark, db, tmp_path):
        """A 0-byte DDL file has no table name: it lands in
        ``skipped_tables`` as ``TableNameNotExtracted`` with its file
        name, as the reference skips it (alterator.py:523-536)."""
        from easy_alterator_spark.cli import run_alterator

        (tmp_path / "empty.hql").write_text("")
        (tmp_path / "new.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.read_new`(`id` int) STORED AS PARQUET;"
        )
        report = run_alterator(spark, [str(tmp_path)], validate=True)
        assert report["new_tables"] == [f"{db}.read_new"]
        assert report["skipped_tables"] == [
            {
                "table_name": "",
                "filename": f"file://{tmp_path}/empty.hql",
                "reason": "TableNameNotExtracted",
            }
        ]
        assert report["ResponseMetadata"]["stats"]["num_tables_analyzed"] == 2

    def test_missing_file_raises_before_any_catalog_call(self, spark, db, tmp_path, monkeypatch):
        from pyspark.sql.catalog import Catalog

        from easy_alterator_spark.cli import run_alterator

        def no_catalog(*args, **kwargs):
            raise AssertionError("catalog called before the DDL files were read")

        monkeypatch.setattr(Catalog, "tableExists", no_catalog)
        (tmp_path / "here.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.read_here`(`id` int) STORED AS PARQUET;"
        )
        missing = tmp_path / "gone.hql"
        with pytest.raises(FileNotFoundError) as err:
            run_alterator(spark, [str(tmp_path / "here.hql"), str(missing)], validate=True)
        assert str(missing) in str(err.value)

    def test_file_path_is_the_input_file_name_uri(self, spark, tmp_path):
        """``file_path`` is the qualified, percent-encoded URI that
        Spark's ``input_file_name`` gives, so reports name files as
        before."""
        from easy_alterator_spark.ddl.parser import read_ddl_corpus

        d = tmp_path / "d ir"
        d.mkdir()
        (d / "x.hql").write_text("CREATE TABLE `a.b` (`c` int) USING iceberg;")
        [row] = read_ddl_corpus(spark, [str(d / "x.hql")]).collect()
        assert row["file_path"] == f"file://{tmp_path}/d%20ir/x.hql"
        assert row["ddl"] == "create table `a.b` (`c` int) using iceberg;"
