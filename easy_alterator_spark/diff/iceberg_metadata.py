"""Iceberg ``metadata.json`` reader (S7 in SURVEY.md §2.1).

The reference GETs the table's metadata.json from S3 and plucks the
current schema, default partition spec, and properties
(iceberg_schema_handler.py:131-151). Here the file is opened on the
driver through Hadoop's FileSystem API — same code path for local
files, S3, HDFS — and parsed there (one small JSON per table), then
shaped into the FIXTURES.md B2/B3 snapshot rows the diff engine
consumes. With the Iceberg Spark runtime on the classpath the same
rows come from ``spark.table(t).schema`` + the ``.snapshots`` metadata
table; this reader keeps the engine functional without that jar.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession


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


def read_metadata_files(
    spark: SparkSession, table: str, location: str
) -> tuple[list, dict[str, str]]:
    """Read one table's metadata.json on the driver -> (cat_cols rows,
    properties). The location may be a local path or any Hadoop-visible
    URI (file:, s3://, hdfs://)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        raise FileNotFoundError(f"{table}: metadata_location {location} does not exist")
    stream = fs.open(path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return parse_metadata(json.loads(text), table)
