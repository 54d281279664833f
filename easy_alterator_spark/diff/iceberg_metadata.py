"""Iceberg ``metadata.json`` reader (S7 in SURVEY.md §2.1).

The reference GETs the table's metadata.json from S3 and plucks the
current schema, default partition spec, and properties
(iceberg_schema_handler.py:131-151). Here the file is read through
``spark.read.text(wholetext=True)`` — same code path for local files,
S3, HDFS — and parsed driver-side (one small JSON per table), then
shaped into the FIXTURES.md B2/B3 snapshot rows the diff engine
consumes. With the Iceberg Spark runtime on the classpath the same
rows come from ``spark.table(t).schema`` + the ``.snapshots`` metadata
table; this reader keeps the engine functional without that jar.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from .catalog import COLS_SCHEMA


def parse_metadata(meta: dict[str, Any], table_name: str) -> tuple[list, dict]:
    """metadata dict -> (cat_cols rows, properties).

    Rows carry the Iceberg *metadata* type vocabulary (long,
    timestamptz, ...); the diff layer maps it to the comparison
    vocabulary (diff/iceberg.py), mirroring the reference's split.
    """
    schema_id = meta["current-schema-id"]
    schemas = {s.get("schema-id", i): s for i, s in enumerate(meta["schemas"])}
    fields = schemas[schema_id]["fields"]
    spec_id = meta.get("default-spec-id", 0)
    specs = {s.get("spec-id", i): s for i, s in enumerate(meta.get("partition-specs", []))}
    part_fields = specs.get(spec_id, {}).get("fields", [])

    rows = [
        (table_name, f["name"].lower(), str(f["type"]), pos, False, f["id"])
        for pos, f in enumerate(fields)
    ]
    rows += [
        (table_name, p["name"].lower(), "", pos, True, p["field-id"])
        for pos, p in enumerate(part_fields)
    ]
    props = dict(meta.get("properties", {}))
    props.pop("owner", None)  # not a real iceberg property (ref :150)
    return rows, props


def _path_key(spark: SparkSession, path: str, is_uri: bool = False) -> str:
    """One spelling per file: Hadoop's qualified, decoded path.

    ``input_file_name`` returns an encoded URI (``file:///a%20b/v1.json``)
    while a metadata_location is a plain path or URI (``/a b/v1.json``,
    ``s3://b/v1.json``); both sides map to the same key."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(path) if is_uri else path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).makeQualified(p).toString()


def read_metadata_files(
    spark: SparkSession, locations: dict[str, str]
) -> tuple[DataFrame, dict[str, dict[str, str]]]:
    """Read {table_name: metadata.json path} -> (cat_cols DataFrame,
    per-table properties). Paths may be local, s3://, hdfs:// — any
    Hadoop-visible filesystem."""
    if not locations:
        return local_frame(spark, [], COLS_SCHEMA), {}
    texts = (
        spark.read.text(list(locations.values()), wholetext=True)
        .selectExpr("input_file_name() as path", "value")
        .collect()
    )
    contents = {_path_key(spark, r["path"], is_uri=True): r["value"] for r in texts}
    rows: list = []
    props: dict[str, dict[str, str]] = {}
    for table, loc in locations.items():
        text = contents.get(_path_key(spark, loc))
        if text is None:
            continue
        t_rows, t_props = parse_metadata(json.loads(text), table)
        rows.extend(t_rows)
        props[table] = t_props
    return local_frame(spark, rows, COLS_SCHEMA), props
