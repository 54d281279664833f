"""Live Spark-catalog snapshot + statement application.

Replaces the reference's boto3 Glue calls (glue_utils.py:13-114) with
the Spark catalog API: the same engine runs against the session
catalog in tests and a Glue-backed catalog in production (the catalog
implementation is a config swap — ``spark.sql.catalog.*`` settings —
not a code change).

One reader, :func:`_describe`, serves the snapshot (the FIXTURES.md
B2/B3 DataFrames the diff engine consumes) and the version digest: two
round trips per table, ``tableExists`` then ``DESCRIBE TABLE EXTENDED
… AS JSON`` — the counterpart of the reference's one ``get_table``
response (typed columns, partition columns, provider, Hive storage
classes, properties as a map). The snapshot rows, Iceberg metadata.json
rows included, are gathered in one driver pass and handed to the JVM
as one local relation per frame
(:func:`easy_alterator_spark.session.local_frame`), so the diff plans
over them run in the JVM alone and a CLI run starts no Python worker.
Catalog *writes* stay driver-side sequential (DDL is a metadata
operation; never issue it from executors — SURVEY.md §4.2).

For live ICEBERG tables the column snapshot comes from the table's
``metadata.json`` (via :mod:`.iceberg_metadata`), NOT from the
describe: the iceberg diff joins partition specs on Iceberg *field
ids*, which only the metadata file carries — a describe-based snapshot
would emit ``field_id = NULL`` and make every partition field look
simultaneously new and dropped (reference reads the same file,
iceberg_schema_handler.py:131-151).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..session import GLUE_FACTORY_KEY, local_frame

# The snapshot frames' schemas (FIXTURES.md B2/B3); every producer of
# a catalog snapshot, live or fixture, builds its frames from these.
COLS_SCHEMA = (
    "table_name string, name string, type string, position int, "
    "is_partition boolean, field_id int"
)
TABLES_SCHEMA = (
    "table_name string, table_type string, format string, "
    "metadata_location string, properties map<string,string>, version_id string"
)

# The reference's parquet_check (rule_book.py:33-89) requires the FULL
# Hive parquet triple — a 'hive'-provider table is only PARQUET when
# its storage handler actually is; CSV/ORC/Avro Hive tables must route
# to non_parquet/format_changed, not into the ALTER path.
_PARQUET_TRIPLE = (
    "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
    "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
    "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
)

# InputFormat class-name fragments; the upper-cased fragment is the
# diff-vocabulary format token.
_INPUT_FORMATS = ("orc", "avro", "sequencefile", "text")


def _describe(spark: SparkSession, table: str) -> dict[str, Any] | None:
    """The table's ``DESCRIBE TABLE EXTENDED … AS JSON`` document, or
    None when it does not exist. The existence check comes first: a
    describe of a missing table logs a JVM stack trace even when the
    error is caught, and new tables are a normal outcome."""
    if not spark.catalog.tableExists(table):
        return None
    return json.loads(spark.sql(f"DESCRIBE TABLE EXTENDED {table} AS JSON").first()[0])


def _type_string(t: dict[str, Any]) -> str:
    """A JSON type node as the ``simpleString`` type text (what
    ``listColumns`` prints, minus its wide-struct truncation);
    collations are dropped."""
    name = t["name"]
    if name == "decimal":
        return f"decimal({t['precision']},{t['scale']})"
    if name in ("char", "varchar"):
        return f"{name}({t['length']})"
    if name == "array":
        return f"array<{_type_string(t['element_type'])}>"
    if name == "map":
        return f"map<{_type_string(t['key_type'])},{_type_string(t['value_type'])}>"
    if name == "struct":
        fields = ",".join(f"{f['name']}:{_type_string(f['type'])}" for f in t["fields"])
        return f"struct<{fields}>"
    if name == "interval":
        start, end = t["start_unit"], t["end_unit"]
        return f"interval {start}" if start == end else f"interval {start} to {end}"
    return "timestamp" if name == "timestamp_ltz" else name


def _table_format(desc: dict[str, Any]) -> str:
    """PARQUET|ICEBERG|ORC|AVRO|SEQUENCEFILE|TEXT from a describe."""
    props = desc.get("table_properties", {})
    provider = desc.get("provider", "").lower()
    # Glue Iceberg tables carry table_type=ICEBERG + metadata_location;
    # either marks the table (Spark's session catalog reserves/swallows
    # `table_type`, but metadata_location — an Iceberg-only property —
    # survives, so it doubles as the detection signal in tests).
    if (
        provider == "iceberg"
        or props.get("table_type", "").upper() == "ICEBERG"
        or "metadata_location" in props
    ):
        return "ICEBERG"
    if provider == "parquet":
        return "PARQUET"
    if provider != "hive":
        return "TEXT"
    input_format = desc.get("input_format", "")
    if (input_format, desc.get("output_format"), desc.get("serde_library")) == _PARQUET_TRIPLE:
        return "PARQUET"
    low = input_format.lower()
    return next((frag.upper() for frag in _INPUT_FORMATS if frag in low), "TEXT")


def snapshot_catalog(spark: SparkSession, tables: list[str]) -> tuple[DataFrame, DataFrame]:
    """Snapshot live tables into the (cat_cols, cat_tables) fixture
    shape. ``tables`` are db-qualified names; missing tables are simply
    absent from the snapshot (the diff routes them as new).

    The snapshot is one driver pass: each table is read once through
    :func:`_describe` — same as the reference's Glue round-trips — so a
    run is bound by these O(tables) round trips: the diff over the
    snapshot is O(files) driver work with no Spark job. Each frame is
    ONE local relation built over Arrow
    (:func:`easy_alterator_spark.session.local_frame`): collecting it
    runs no Spark job, and a job that scans it starts no Python worker.

    ICEBERG tables that expose a ``metadata_location`` property get
    their columns (with REAL field ids), partition spec, and properties
    from the metadata.json, opened in the same driver pass
    (:func:`.iceberg_metadata.read_metadata_files`); a missing file
    raises ``FileNotFoundError`` naming the table. Iceberg tables
    WITHOUT a metadata location fall back to the describe's columns
    (field_id NULL); the apply path refuses partition DDL for those
    (see cli.run_alterator).
    """
    from .iceberg_metadata import read_metadata_files

    col_rows, tbl_rows = [], []
    for table in tables:
        desc = _describe(spark, table)
        if desc is None:
            continue
        fmt, props = _table_format(desc), desc.get("table_properties", {})
        meta_loc = props.get("metadata_location")
        if fmt == "ICEBERG" and meta_loc:
            # metadata.json properties are authoritative for iceberg
            # prop diff (reference plucks them from the same file)
            meta_rows, props = read_metadata_files(spark, table, meta_loc)
            col_rows.extend(meta_rows)
        else:
            parts = set(desc.get("partition_columns", []))
            pos = {False: 0, True: 0}
            for c in desc["columns"]:
                is_part = c["name"] in parts
                col_type = _type_string(c["type"]).lower()
                col_rows.append((table, c["name"].lower(), col_type, pos[is_part], is_part, None))
                pos[is_part] += 1
        tbl_rows.append((table, "EXTERNAL_TABLE", fmt, meta_loc, props, "0"))
    return local_frame(spark, col_rows, COLS_SCHEMA), local_frame(spark, tbl_rows, TABLES_SCHEMA)


# Injected boto3 Glue client (tests pass a moto client; production
# leaves None and the client is built lazily from the session's AWS
# environment when the session is Glue-backed).
GLUE_CLIENT = None


def _glue_backed(spark: SparkSession) -> bool:
    """True when the session's metastore client factory is AWS Glue
    (the get_spark(glue=True) wiring, session.GLUE_CONFS)."""
    try:
        factory = spark.conf.get(GLUE_FACTORY_KEY, "") or ""
    except Exception:  # noqa: BLE001 — conf key may be restricted
        factory = ""
    return "glue" in factory.lower()


def glue_table_version(table: str, client=None) -> str | None:
    """Native Glue VersionId — the reference's actual S6 signal
    (src/utils/glue_utils.py:90-114 ``get_table_versions``; newest
    version first). Returns None when boto3/Glue is unreachable or the
    table is unknown, so callers can fall back to the digest form.
    """
    client = client or GLUE_CLIENT
    if client is None:
        try:
            import boto3

            client = boto3.client("glue")
        except Exception:  # noqa: BLE001 — no boto3 / no credentials
            return None
    parts = table.split(".")
    if len(parts) == 3:  # iceberg catalog prefix: glue_catalog.db.tbl
        _, db, name = parts
    elif len(parts) == 2:
        db, name = parts
    else:
        return None
    try:
        resp = client.get_table_versions(DatabaseName=db, TableName=name)
        ids = [v.get("VersionId") for v in resp.get("TableVersions", []) if v.get("VersionId")]
        if not ids:
            return None
        # real Glue returns newest first, moto oldest first — take the
        # numerically-largest id rather than trusting order
        return max(ids, key=lambda s: (int(s) if s.isdigit() else -1, s))
    except Exception:  # noqa: BLE001 — fall back to digest versioning
        return None


def table_version(spark: SparkSession, table: str) -> str | None:
    """A catalog version id for the S6 version bracket.

    The reference brackets Glue ``update_table`` with two
    ``get_table_versions`` calls (alterator.py:434-440). On a
    Glue-backed session (or with an injected client) the bracket uses
    the NATIVE Glue VersionId via :func:`glue_table_version`;
    otherwise Spark's session catalog has no versioning, so it uses
    the strongest signal each catalog offers:

    - Iceberg: the ``metadata_location`` property — a NEW metadata file
      per commit, so it IS the table version.
    - otherwise: a digest of the described columns, partition columns
      and table properties, which changes exactly when an ALTER lands.
    """
    if GLUE_CLIENT is not None or _glue_backed(spark):
        v = glue_table_version(table)
        if v is not None:
            return v
    desc = _describe(spark, table)
    if desc is None:
        return None
    props = desc.get("table_properties", {})
    if props.get("metadata_location"):
        return props["metadata_location"]
    sig = json.dumps(
        [desc["columns"], desc.get("partition_columns", []), props], sort_keys=True
    )
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def apply_statements(spark: SparkSession, statements: list[str]) -> list[str]:
    """Execute rendered ALTERs sequentially on the driver; returns the
    statements that ran (for the run report / audit trail)."""
    for stmt in statements:
        spark.sql(stmt)
    return statements
