"""End-to-end CLI + sync tests against real session-catalog tables and
real DDL files on disk."""

from __future__ import annotations

import json

import pytest


@pytest.fixture(scope="module")
def db(spark):
    name = "ea_cli_test"
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    spark.sql(f"CREATE DATABASE {name}")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


class TestSync:
    def test_sync_adds_missing_columns(self, spark, db):
        from easy_alterator_spark.diff.sync import sync_tables

        spark.sql(f"CREATE TABLE {db}.src_t (id INT, amount DOUBLE, extra STRING) USING parquet")
        spark.sql(f"CREATE TABLE {db}.tgt_t (id INT, amount DOUBLE) USING parquet")
        report = sync_tables(spark, f"{db}.src_t", f"{db}.tgt_t")
        assert report["details"]["add"] == [{"Name": "extra", "Type": "string"}]
        got = [c.name for c in spark.catalog.listColumns(f"{db}.tgt_t")]
        assert got == ["id", "amount", "extra"]

    def test_sync_validate_dry_run(self, spark, db):
        from easy_alterator_spark.diff.sync import sync_tables

        spark.sql(f"CREATE TABLE {db}.src_v (id INT, n2 STRING) USING parquet")
        spark.sql(f"CREATE TABLE {db}.tgt_v (id INT) USING parquet")
        report = sync_tables(spark, f"{db}.src_v", f"{db}.tgt_v", validate=True)
        assert report["statements"]
        assert [c.name for c in spark.catalog.listColumns(f"{db}.tgt_v")] == ["id"]

    def test_sync_partition_mismatch_raises(self, spark, db):
        from easy_alterator_spark.diff.sync import SyncError, sync_tables

        spark.sql(
            f"CREATE TABLE {db}.src_p (v STRING, day_rk DATE) USING parquet PARTITIONED BY (day_rk)"
        )
        spark.sql(f"CREATE TABLE {db}.tgt_p (v STRING) USING parquet")
        with pytest.raises(SyncError, match="Partition"):
            sync_tables(spark, f"{db}.src_p", f"{db}.tgt_p")
        # pcheck disabled: no raise, drift is REPORTED but partition
        # keys never render as data-column DDL (ADD/REPLACE COLUMNS
        # cannot change Hive partition keys)
        report = sync_tables(
            spark, f"{db}.src_p", f"{db}.tgt_p", part_check=False, validate=True
        )
        assert report["partition_drift"] is True
        assert report["details"]["add"] == []
        assert report["details"]["delete"] == []
        assert report["statements"] == []


class TestCli:
    def test_validate_run_via_files(self, spark, db, tmp_path):
        from easy_alterator_spark.cli import run_alterator

        spark.sql(f"CREATE TABLE {db}.cli_t (id INT, amount DOUBLE) USING parquet")
        ddl = tmp_path / "cli_t.hql"
        ddl.write_text(
            f"CREATE EXTERNAL TABLE `{db}.cli_t`("
            "`id` int, `amount` double, `added` string) STORED AS PARQUET;"
        )
        (tmp_path / "ignored.txt").write_text("not a ddl")
        report = run_alterator(spark, [str(tmp_path)], validate=True)
        assert report["ResponseMetadata"]["stats"]["num_updates"] == 1
        e = report["success_tables"][0]
        assert e["details"]["add"] == [{"Name": "added", "Type": "string"}]
        # validate mode: nothing applied
        assert [c.name for c in spark.catalog.listColumns(f"{db}.cli_t")] == [
            "id",
            "amount",
        ]

    def test_apply_run(self, spark, db, tmp_path):
        from easy_alterator_spark.cli import run_alterator

        spark.sql(f"CREATE TABLE {db}.cli_a (id INT) USING parquet")
        ddl = tmp_path / "cli_a.hql"
        ddl.write_text(
            f"CREATE EXTERNAL TABLE `{db}.cli_a`(`id` int, `n1` string) STORED AS PARQUET;"
        )
        report = run_alterator(spark, [str(ddl)], validate=False)
        assert report["applied_statements"]
        assert [c.name for c in spark.catalog.listColumns(f"{db}.cli_a")] == ["id", "n1"]
        # S6 version bracket: the ALTER moved the catalog version
        e = report["success_tables"][0]
        assert e["previous_version"] and e["current_version"]
        assert e["previous_version"] != e["current_version"]

    def test_validate_versions_are_stable(self, spark, db, tmp_path):
        from easy_alterator_spark.cli import run_alterator

        spark.sql(f"CREATE TABLE {db}.cli_v (id INT) USING parquet")
        (tmp_path / "cli_v.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.cli_v`(`id` int, `n9` string) STORED AS PARQUET;"
        )
        report = run_alterator(spark, [str(tmp_path / "cli_v.hql")], validate=True)
        e = report["success_tables"][0]
        assert e["previous_version"] == e["current_version"] is not None

    def test_report_is_json_serializable(self, spark, db, tmp_path):
        from easy_alterator_spark.cli import run_alterator

        ddl = tmp_path / "newt.hql"
        ddl.write_text(
            f"CREATE EXTERNAL TABLE `{db}.not_there`(`x` int) STORED AS PARQUET;"
        )
        report = run_alterator(spark, [str(ddl)], validate=True)
        assert json.loads(json.dumps(report))["new_tables"] == [f"{db}.not_there"]

    def test_run_leaves_no_cached_frames(self, spark, db, tmp_path):
        """A run caches its parse and diff for its own use only: a
        long-lived session must not carry them into the next run."""
        from easy_alterator_spark.cli import run_alterator

        spark.sql(f"CREATE TABLE {db}.cli_c (id INT) USING parquet")
        (tmp_path / "cli_c.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.cli_c`(`id` int, `n2` string) STORED AS PARQUET;"
        )
        spark.catalog.clearCache()
        report = run_alterator(spark, [str(tmp_path)], validate=False)
        assert report["applied_statements"]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestAwsAccountId:
    def test_env_wins(self, monkeypatch):
        from easy_alterator_spark.aws import resolve_aws_account_id

        monkeypatch.setenv("AWS_ACCOUNT_ID", "111122223333")
        assert resolve_aws_account_id() == "111122223333"

    def test_falls_back_to_default_off_aws(self, monkeypatch):
        from easy_alterator_spark import aws

        monkeypatch.delenv("AWS_ACCOUNT_ID", raising=False)
        monkeypatch.setattr(aws, "_from_sts", lambda: None)
        monkeypatch.setattr(aws, "_from_imds", lambda: None)
        aws._resolve_cached.cache_clear()
        assert aws.resolve_aws_account_id(default="") == ""
        aws._resolve_cached.cache_clear()

    def test_placeholder_resolved_in_corpus(self, spark, monkeypatch):
        from easy_alterator_spark.ddl.parser import corpus_from_rows

        ddl = (
            "CREATE EXTERNAL TABLE `db.t`(`id` int) STORED AS PARQUET "
            "LOCATION 's3://bkt-{aws_account_id}/x';"
        )
        corpus = corpus_from_rows(spark, [("m/t.hql", ddl)], aws_account_id="999")
        text = corpus.collect()[0]["ddl"]
        assert "s3://bkt-999/x" in text
        assert "{aws_account_id}" not in text


class TestMainEntry:
    def test_main_validate_prints_report(self, spark, db, tmp_path, capsys):
        import json

        from easy_alterator_spark.cli import main

        spark.sql(f"CREATE TABLE {db}.main_t (id INT) USING parquet")
        (tmp_path / "main_t.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.main_t`(`id` int, `zz` string) STORED AS PARQUET;"
        )
        rc = main(["-p", str(tmp_path), "--validate"])
        assert rc == 0
        report = json.loads(capsys.readouterr().out)
        assert report["ResponseMetadata"]["validation"] is True
        assert report["success_tables"][0]["table_name"] == f"{db}.main_t"

    def test_main_sync(self, spark, db, capsys):
        import json

        from easy_alterator_spark.cli import main

        spark.sql(f"CREATE TABLE {db}.ms_src (id INT, extra2 STRING) USING parquet")
        spark.sql(f"CREATE TABLE {db}.ms_tgt (id INT) USING parquet")
        rc = main(
            ["--sync", "-src", f"{db}.ms_src", "-tgt", f"{db}.ms_tgt", "--validate"]
        )
        assert rc == 0
        report = json.loads(capsys.readouterr().out)
        assert report["details"]["add"] == [{"Name": "extra2", "Type": "string"}]

    def test_main_config_yaml(self, spark, db, tmp_path, capsys):
        import json

        from easy_alterator_spark.cli import main

        spark.sql(f"CREATE TABLE {db}.cfg_t (id INT) USING parquet")
        (tmp_path / "cfg_t.hql").write_text(
            f"CREATE EXTERNAL TABLE `{db}.cfg_t`(`id` int) STORED AS PARQUET;"
        )
        (tmp_path / "other.hql").write_text(
            "CREATE EXTERNAL TABLE `nodb.other`(`x` int) STORED AS PARQUET;"
        )
        cfg = tmp_path / "conf.yaml"
        # allowlist entries name FILES as {table}.{suffix} (reference
        # file_utils.py:101-118 convention)
        cfg.write_text(f"path: {tmp_path}\ntables:\n  - cfg_t\n")
        rc = main(["-c", str(cfg), "--validate"])
        assert rc == 0
        report = json.loads(capsys.readouterr().out)
        # allowlist keeps only the named table's file
        assert report["identical_tables"] == [f"{db}.cfg_t"]
        assert report["ResponseMetadata"]["stats"]["num_tables_analyzed"] == 1


class TestReportSink:
    def test_write_report_roundtrip_file_uri(self, spark, tmp_path):
        """K2 parity: the run report persists to a Hadoop-FS URI
        (reference write_to_s3, src/utils/s3_utils.py:95-106) — the
        file:// scheme exercises the exact code path s3a:// would."""
        from easy_alterator_spark.cli import write_report

        report = {"ResponseMetadata": {"stats": {"num_tables_analyzed": 2}},
                  "success_tables": [{"table_name": "db.t"}]}
        uri = f"file://{tmp_path}/out/report.json"
        write_report(spark, report, uri)
        back = json.loads((tmp_path / "out" / "report.json").read_text())
        assert back == report
        # overwrite semantics (reference put_object replaces)
        write_report(spark, {"v": 2}, uri)
        assert json.loads((tmp_path / "out" / "report.json").read_text()) == {"v": 2}

    def test_cli_output_flag_writes_report(self, spark, db, tmp_path, monkeypatch):
        from easy_alterator_spark import cli

        spark.sql(f"CREATE TABLE {db}.sink_t (id INT) USING parquet")
        ddl = tmp_path / "sink_t.hql"
        ddl.write_text(
            f"CREATE EXTERNAL TABLE `{db}.sink_t`(`id` int, `n` string) STORED AS PARQUET;"
        )
        monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark, raising=False)
        # main() imports get_spark from .session — patch there
        from easy_alterator_spark import session as sess

        monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
        out_uri = f"file://{tmp_path}/cli_report.json"
        rc = cli.main(["-p", str(tmp_path), "--validate", "-o", out_uri])
        assert rc == 0
        back = json.loads((tmp_path / "cli_report.json").read_text())
        assert f"{db}.sink_t" in [
            e["table_name"] for e in back.get("success_tables", [])
        ] or back.get("validate_tables") or back.get("ResponseMetadata")


class TestGlueVersions:
    """Native Glue get_table_versions bracket (reference
    glue_utils.py:90-114), moto-mocked; feature-gated on moto."""

    @pytest.fixture()
    def glue_client(self, monkeypatch):
        moto = pytest.importorskip("moto")
        import boto3

        with moto.mock_aws():
            monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test")
            monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test")
            monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
            client = boto3.client("glue")
            client.create_database(DatabaseInput={"Name": "gdb"})
            client.create_table(
                DatabaseName="gdb",
                TableInput={
                    "Name": "vt",
                    "StorageDescriptor": {
                        "Columns": [{"Name": "id", "Type": "int"}]
                    },
                },
            )
            yield client

    def test_glue_version_advances_on_update(self, glue_client):
        from easy_alterator_spark.diff.catalog import glue_table_version

        v1 = glue_table_version("gdb.vt", client=glue_client)
        assert v1 is not None
        glue_client.update_table(
            DatabaseName="gdb",
            TableInput={
                "Name": "vt",
                "StorageDescriptor": {
                    "Columns": [
                        {"Name": "id", "Type": "int"},
                        {"Name": "n", "Type": "string"},
                    ]
                },
            },
        )
        v2 = glue_table_version("gdb.vt", client=glue_client)
        assert v2 is not None and v2 != v1
        # catalog-prefixed (iceberg) names resolve too
        assert glue_table_version("glue_catalog.gdb.vt", client=glue_client) == v2
        # unknown table -> None (digest fallback takes over)
        assert glue_table_version("gdb.nope", client=glue_client) is None

    def test_report_brackets_with_glue_version_ids(
        self, spark, db, tmp_path, glue_client, monkeypatch
    ):
        """run_alterator's success entries carry NATIVE VersionIds when
        a Glue client is wired in (GLUE_CLIENT injection point)."""
        from easy_alterator_spark.cli import run_alterator
        from easy_alterator_spark.diff import catalog as cat

        # session-catalog table drives the diff; same name registered in
        # mocked Glue supplies the version ids
        spark.sql(f"CREATE TABLE {db}.vt (id INT) USING parquet")
        glue_client.create_database(DatabaseInput={"Name": db})
        glue_client.create_table(
            DatabaseName=db,
            TableInput={
                "Name": "vt",
                "StorageDescriptor": {"Columns": [{"Name": "id", "Type": "int"}]},
            },
        )
        ddl = tmp_path / "vt.hql"
        ddl.write_text(
            f"CREATE EXTERNAL TABLE `{db}.vt`(`id` int, `n2` string) STORED AS PARQUET;"
        )
        monkeypatch.setattr(cat, "GLUE_CLIENT", glue_client)
        report = run_alterator(spark, [str(tmp_path)], validate=True)
        [entry] = [e for e in report["success_tables"] if e["table_name"] == f"{db}.vt"]
        glue_v = glue_client.get_table_versions(DatabaseName=db, TableName="vt")[
            "TableVersions"
        ][0]["VersionId"]
        assert entry["previous_version"] == entry["current_version"] == glue_v
