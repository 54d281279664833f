"""CLI entry point — argument surface mirrors the reference
(easy_alterator.py:20-105): -p/--path, -c/--config, -cp/--key_for_path,
-fs/-fp file filters, --validate, --force, --sync with -src/-tgt/-pcheck.

Pipeline: discover DDL files (driver) -> read + parse the whole corpus
(one Spark plan) -> snapshot the catalog for the referenced tables ->
one diff plan, each file routed and diffed in its row, each Iceberg
table's diff carried on one of its files -> report (one collect,
Iceberg column moves ordered on the driver); apply rendered ALTERs
unless --validate.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="easy-alterator-spark")
    p.add_argument("-p", "--path", nargs="*", help="DDL file/dir paths")
    p.add_argument("-c", "--config", type=str, help="DDL config yaml")
    p.add_argument("-cp", "--key_for_path", type=str, default="path")
    p.add_argument("-fs", "--file_suffix", type=str, default="hql", choices=["hql", "txt"])
    p.add_argument("-fp", "--file_prefix", type=str, default=None)
    p.add_argument("--validate", action="store_true")
    p.add_argument("--force", action="store_true")
    p.add_argument(
        "-o",
        "--output",
        type=str,
        default=None,
        help="also write the run report JSON to this Hadoop-FS URI "
        "(file://, s3a://, hdfs://, ...)",
    )
    p.add_argument("--sync", action="store_true")
    p.add_argument("-src", "--source_table", type=str)
    p.add_argument("-tgt", "--target_table", type=str)
    p.add_argument("-pcheck", "--partition_check", type=int, default=1, choices=[0, 1])
    return p


def run_alterator(
    spark: SparkSession,
    paths: list[str],
    prefix: str | None = None,
    suffix: str = "hql",
    table_names: list[str] | None = None,
    validate: bool = True,
    force: bool = False,
    aws_account_id: str | None = None,
) -> dict:
    """Programmatic entry: diff DDL files against the live catalog and
    (unless validate) apply the resulting ALTERs. ``aws_account_id``
    fills the ``{aws_account_id}`` DDL placeholder; None resolves it
    via env / STS / EC2 instance metadata (aws.py)."""
    from .aws import resolve_aws_account_id
    from .ddl.parser import parse_ddl_corpus, read_ddl_corpus
    from .ddl.render import hive_alter_statements, iceberg_alter_statements
    from .diff import build_report, hive_diff
    from .diff.catalog import apply_statements, snapshot_catalog, table_version
    from .files import filter_ddl_files

    files = filter_ddl_files(paths, prefix, suffix, table_names, spark=spark)
    if not files:
        raise FileNotFoundError(f"no DDL files matched under {paths}")
    if aws_account_id is None:
        aws_account_id = resolve_aws_account_id()
    parsed = parse_ddl_corpus(
        read_ddl_corpus(spark, files, aws_account_id=aws_account_id)
    ).cache()
    # cached for the run only: a long-lived session must not carry one
    # run's parse into the next
    try:
        tables = [
            r["table_name"]
            for r in parsed.select("table_name").distinct().collect()
            if r["table_name"]
        ]
        cat_cols, cat_tables = snapshot_catalog(spark, tables)
        outcomes = hive_diff(parsed, cat_cols, cat_tables, force=force)
        report = build_report(outcomes, validate=validate, force=force)
        # S6 version bracket: record each to-be-altered table's catalog
        # version BEFORE apply (reference brackets Glue update_table with
        # two get_table_versions calls, alterator.py:434-440). Validate
        # mode reports previous == current.
        for e in report["success_tables"]:
            v = table_version(spark, e["table_name"])
            e["previous_version"] = v
            e["current_version"] = v

        if not validate:
            # ONE collect of the snapshot for every table's catalog schema
            # and the field-id check below. The snapshot is a local
            # relation, so this reads the driver's own rows back and runs
            # no Spark job.
            snapshot = cat_cols.collect()
            cat_schema: dict[str, list[dict[str, str]]] = {}
            for r in sorted(
                (r for r in snapshot if not r["is_partition"]),
                key=lambda r: (r["table_name"], r["position"]),
            ):
                cat_schema.setdefault(r["table_name"], []).append(
                    {"Name": r["name"], "Type": r["type"]}
                )
            # live-iceberg tables whose snapshot has no real field ids
            # (no metadata.json available): partition DDL would be built on
            # NULL join keys — refuse it rather than emit spurious
            # ADD/DROP PARTITION FIELD.
            null_fid = {
                r["table_name"]
                for r in snapshot
                if r["is_partition"] and r["field_id"] is None
            }

            per_table: list[tuple[str, list[str]]] = []
            apply_errors: dict[str, str] = {}
            for e in report["success_tables"]:
                per_table.append(
                    (
                        e["table_name"],
                        hive_alter_statements(
                            e["table_name"],
                            e["details"]["add"],
                            e["details"]["delete"],
                            catalog_schema=cat_schema.get(e["table_name"]),
                        ),
                    )
                )
            for e in report["iceberg_tables"]:
                if "sequenceMismatch" in e:
                    continue
                if e.get("migration") == "True":
                    # the catalog table is still Hive — Iceberg-only DDL
                    # (partition fields, column moves, renames) would fail
                    # on it. Reference treats migration tables as
                    # report-only (alterator.py migration path).
                    continue
                entry = {**e, "table_name": e["table_name"].split(".", 1)[-1]}
                if e["table_name"] in null_fid and e.get("partition_columns"):
                    apply_errors[e["table_name"]] = (
                        "partition DDL skipped: catalog snapshot has no "
                        "iceberg field ids (no metadata_location)"
                    )
                    entry = {k: v for k, v in entry.items() if k != "partition_columns"}
                per_table.append((e["table_name"], iceberg_alter_statements(entry)))

            # per-table application with error collection — one failing
            # table must not abort the remaining tables mid-run (earlier
            # tables are already altered; DDL has no transaction to roll
            # back into).
            applied: list[str] = []
            for name, stmts in per_table:
                try:
                    apply_statements(spark, stmts)
                    applied += stmts
                except Exception as exc:  # noqa: BLE001 — collected per table
                    apply_errors[name] = str(exc)
            report["applied_statements"] = applied
            if apply_errors:
                report["apply_errors"] = apply_errors
            # close the S6 bracket: re-fetch versions for altered tables
            for e in report["success_tables"]:
                if e["table_name"] not in apply_errors:
                    e["current_version"] = table_version(spark, e["table_name"])
        return report
    finally:
        parsed.unpersist(blocking=False)


def write_report(spark: SparkSession, report: dict, uri: str) -> None:
    """Persist the run report JSON to any Hadoop-FS URI.

    Parity with the reference's ``write_to_s3``
    (src/utils/s3_utils.py:95-106), generalized: the scheme routes
    through Hadoop's FileSystem API, so the same call serves file://,
    s3a://, hdfs://, or anything else the session's Hadoop conf knows —
    no boto3 dependency and no driver-side temp files.
    """
    data = json.dumps(report, indent=2, default=str)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(uri)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)  # overwrite=True, reference semantics
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()


def main(argv: list[str] | None = None) -> int:
    from .diff.sync import sync_tables
    from .files import read_config
    from .session import get_spark

    args = build_parser().parse_args(argv)
    spark = get_spark("easy-alterator-spark-cli")
    if args.sync:
        if not (args.source_table and args.target_table):
            print("--sync requires -src and -tgt", file=sys.stderr)
            return 2
        report = sync_tables(
            spark,
            args.source_table,
            args.target_table,
            part_check=bool(args.partition_check),
            validate=args.validate,
            force=args.force,
        )
        if args.output:
            write_report(spark, report, args.output)
        print(json.dumps(report, indent=2, default=str))
        return 0

    paths = list(args.path or [])
    table_names = None
    if args.config:
        cfg = read_config(args.config) or {}
        cfg_path = cfg.get(args.key_for_path)
        if cfg_path:
            paths.append(cfg_path)
        table_names = cfg.get("tables")
    if not paths:
        print("provide -p/--path or -c/--config", file=sys.stderr)
        return 2
    report = run_alterator(
        spark,
        paths,
        prefix=args.file_prefix,
        suffix=args.file_suffix,
        table_names=table_names,
        validate=args.validate,
        force=args.force,
    )
    if args.output:
        write_report(spark, report, args.output)
    print(json.dumps(report, indent=2, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
