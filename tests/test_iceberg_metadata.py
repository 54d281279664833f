"""Iceberg metadata.json reader tests: a realistic metadata file on
disk -> snapshot rows -> full diff through the engine."""

from __future__ import annotations

import json

import pytest

from easy_alterator_spark.diff.catalog import COLS_SCHEMA, TABLES_SCHEMA

METADATA = {
    "format-version": 2,
    "current-schema-id": 1,
    "schemas": [
        {"schema-id": 0, "fields": []},
        {
            "schema-id": 1,
            "fields": [
                {"id": 1, "name": "col1", "required": False, "type": "string"},
                {"id": 2, "name": "col4", "required": False, "type": "long"},
                {"id": 3, "name": "ts_col", "required": False, "type": "timestamp"},
                {"id": 4, "name": "day_rk", "required": False, "type": "date"},
            ],
        },
    ],
    "default-spec-id": 0,
    "partition-specs": [
        {
            "spec-id": 0,
            "fields": [
                {"field-id": 1000, "name": "day_rk", "transform": "identity", "source-id": 4}
            ],
        }
    ],
    "properties": {"owner": "someone", "write.merge.mode": "merge-on-read"},
}


@pytest.fixture(scope="module")
def meta_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("icemeta") / "v7.metadata.json"
    p.write_text(json.dumps(METADATA))
    return str(p)


def test_parse_metadata_rows():
    from easy_alterator_spark.diff.iceberg_metadata import parse_metadata

    rows, props = parse_metadata(METADATA, "db.t")
    data = [r for r in rows if not r[4]]
    parts = [r for r in rows if r[4]]
    assert [(r[1], r[2], r[5]) for r in data] == [
        ("col1", "string", 1),
        ("col4", "long", 2),
        ("ts_col", "timestamp", 3),
        ("day_rk", "date", 4),
    ]
    assert [(r[1], r[5]) for r in parts] == [("day_rk", 1000)]
    assert props == {"write.merge.mode": "merge-on-read"}  # owner stripped


def test_read_via_spark_and_diff(spark, meta_file):
    from easy_alterator_spark.ddl.parser import corpus_from_rows, parse_ddl_corpus
    from easy_alterator_spark.diff import build_report, hive_diff
    from easy_alterator_spark.diff.iceberg_metadata import read_metadata_files
    from easy_alterator_spark.session import local_frame

    rows, props = read_metadata_files(spark, "db.t", meta_file)
    assert len(rows) == 5
    cat_cols = local_frame(spark, rows, COLS_SCHEMA)
    cat_tables = spark.createDataFrame(
        [("db.t", "EXTERNAL_TABLE", "ICEBERG", meta_file, props, "1")],
        TABLES_SCHEMA,
    )
    # DDL renames col4 -> col5. NB the coherent timestamp pairing is
    # metadata `timestamp` (Iceberg ntz) <-> DDL `timestamp_ntz`: the
    # reference's two maps make metadata `timestamptz` vs DDL
    # `timestamp` ALWAYS mismatch (rule_book.py:332-339 quirk,
    # preserved here)
    ddl = """
        CREATE TABLE `db.t` (
            `col1` string,
            `col5` bigint, -- renamed_from: col4
            `ts_col` timestamp_ntz,
            `day_rk` date,
        ) USING iceberg
        PARTITIONED BY (`day_rk`)
        TBLPROPERTIES('write.merge.mode'='merge-on-read');
    """
    parsed = parse_ddl_corpus(corpus_from_rows(spark, [("m/t.hql", ddl)]))
    report = build_report(hive_diff(parsed, cat_cols, cat_tables))
    # identical except the rename; ts_col: metadata timestamptz ->
    # spark timestamp == DDL timestamp -> timestamptz? (both normalize
    # through the comparison vocabulary and must NOT show as updated)
    e = report["iceberg_tables"][0]
    assert e["columns"]["renamed"] == [{"old_name": "col4", "new_name": "col5"}]
    assert "updated" not in e["columns"] or "compatible" not in e["columns"].get("updated", {})
    assert "new" not in e["columns"]
    assert "partition_columns" not in e


def test_read_nested_and_encoded_locations(spark, tmp_path):
    """Nested locations (one a path suffix of another), a ``file:`` URI
    and a directory name that a URI percent-encodes each read their own
    file."""
    from easy_alterator_spark.diff.iceberg_metadata import read_metadata_files

    files = {
        "db.a": tmp_path / "x" / "metadata" / "v1.json",
        "db.b": tmp_path / "data" / "x" / "metadata" / "v1.json",
        "db.c": tmp_path / "lake dir" / "t" / "m.json",
    }
    for table, path in files.items():
        meta = {
            "current-schema-id": 0,
            "schemas": [{"schema-id": 0, "fields": [
                {"id": 1, "name": "f_" + table[-1], "required": False, "type": "string"}
            ]}],
        }
        path.parent.mkdir(parents=True)
        path.write_text(json.dumps(meta))
    locations = {t: str(p) for t, p in files.items()}
    locations["db.b"] = "file://" + locations["db.b"]
    read = {t: read_metadata_files(spark, t, loc) for t, loc in locations.items()}
    assert sorted((r[0], r[1]) for rows, _ in read.values() for r in rows) == [
        ("db.a", "f_a"),
        ("db.b", "f_b"),
        ("db.c", "f_c"),
    ]
    assert all(props == {} for _, props in read.values())
