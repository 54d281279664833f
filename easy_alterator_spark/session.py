"""SparkSession bootstrap tuned for both local testing and cluster scale.

Local testing runs on ``local[N]`` against small scale factors; the same
configuration is designed to hold on a 1000-executor cluster reading
~100 TB: AQE handles runtime re-planning (partition coalescing, skew
joins), broadcast thresholds let dimension tables stream past shuffle,
and Arrow keeps any unavoidable Python boundary vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Local test default. On a real cluster this should scale with input
# size: ~2-3x total executor cores, or simply rely on AQE coalescing
# from an over-provisioned initial number (e.g. 2000 for 100 TB).
_LOCAL_SHUFFLE_PARTITIONS = "32"


# Confs the engine NEEDS regardless of who built the SparkSession.
# All three are runtime-settable, so a caller-supplied vanilla session
# (e.g. the correctness driver's) can be fixed up in place:
#  - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which Spark
#    otherwise refuses to read (PARQUET_TYPE_ILLEGAL).
#  - ansi off: permissive Hive-style casts, matching the oracle.
#  - UTC: DuckDB treats parquet timestamps as naive; pin Spark so
#    date_trunc / CAST(ts AS DATE) agree between engines.
REQUIRED_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply :data:`REQUIRED_RUNTIME_CONFS` to any session.

    Called defensively at query entry (queries/__init__.py) and table
    load (sources/tables.py) so correctness does not depend on the
    session having been built by :func:`get_spark`.
    """
    for key, want in REQUIRED_RUNTIME_CONFS.items():
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)
    return spark


# The Hive metastore client factory setting; diff/catalog.py reads it
# back to tell a Glue-backed session.
GLUE_FACTORY_KEY = "spark.hadoop.hive.metastore.client.factory.class"

# The catalog swap that points the SAME engine at AWS Glue instead of
# the local session catalog (SURVEY: reference does this via boto3;
# here it's session config only — no code change in the diff/apply
# paths). Two standard wirings, both public Spark/Iceberg surface:
#  - Hive-compatible metastore: the Glue Data Catalog client factory
#    (AWS's aws-glue-data-catalog-client-for-apache-hive-metastore).
#  - Iceberg GlueCatalog: iceberg-spark-runtime + iceberg-aws jars.
# Jars are NOT bundled here; attach them on the cluster (EMR/Glue
# interactive sessions ship them preinstalled).
GLUE_CONFS: dict[str, str] = {
    # Hive-metastore-compatible route (covers the PARQUET/Hive path)
    GLUE_FACTORY_KEY: (
        "com.amazonaws.glue.catalog.metastore.AWSGlueDataCatalogHiveClientFactory"
    ),
    # Iceberg GlueCatalog route (covers the ICEBERG path); the catalog
    # name matches diff/iceberg.py's CATALOG `glue_catalog`
    "spark.sql.catalog.glue_catalog": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.glue_catalog.catalog-impl": "org.apache.iceberg.aws.glue.GlueCatalog",
    "spark.sql.catalog.glue_catalog.io-impl": "org.apache.iceberg.aws.s3.S3FileIO",
}


def get_spark(
    app_name: str = "easy-alterator-spark",
    master: str | None = None,
    glue: bool = False,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract).
    ``glue=True`` layers :data:`GLUE_CONFS` on top so catalog reads and
    DDL application target the AWS Glue Data Catalog; everything else
    (diff plans, rendering, reports) is identical.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # Shuffle/block-manager scratch space on fast local storage
    # (guide §2.1: local disk bandwidth for shuffle files is often the
    # tighter limit). This sandbox's /tmp sits on the VM root disk;
    # /dev/shm is RAM-backed tmpfs — measured 2.2-2.3 s vs 1.2-1.4 s
    # on the fixed shuffle-calibration workload (A/B/A/B, r11). On a
    # real cluster the resource manager overrides spark.local.dir via
    # SPARK_LOCAL_DIRS/LOCAL_DIRS, so this setting only ever governs
    # local runs; SPARK_GRAFT_LOCAL_DIR overrides (set it to a disk
    # path if shuffle spill could exceed RAM). ADVICE-r11 guard: only
    # auto-select tmpfs when it has comfortable headroom (>= 8 GiB
    # free — an order of magnitude above the worst observed local
    # shuffle footprint), else fall back to the normal temp dir so a
    # spill-heavy local run degrades to disk instead of ENOSPC.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- shuffle & adaptive execution -----------------------------
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dimension tables (region/nation/supplier/...) broadcast freely
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # --- python boundary ------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism vs the DuckDB oracle -------------------------
        # DuckDB treats parquet timestamps as naive; pin Spark to UTC so
        # date_trunc/CAST(ts AS DATE) agree between engines.
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: oracle comparisons want permissive casts like Hive.
        .config("spark.sql.ansi.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type,
        # so read as long and rebuild micros in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scan tuning ----------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[32] churns array-heavy rows in the dedup verify joins;
        # 16g keeps GC out of the measured path (measured ~1 s/query on
        # dedup_minhash_lsh at sf0.1 vs 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # 230+ registered queries × several codegen stages each overflow
        # the JVM's default 240 MB reserved code cache in one long
        # session ("CodeCache is full. Compiler has been disabled"),
        # after which everything runs interpreted/deoptimized — seen as
        # a broad ~0.5-1 s/query inflation late in full-suite runs.
        # 512 MB sufficed at ~200 queries; at 230 the suite tail showed
        # 2x inflation on the heavy dedup queries again (in-suite 9.2 s
        # vs 4.2 s standalone), so 768 MB + segmented cache keeps the
        # sweeper effective for the whole run.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=768m -XX:+SegmentedCodeCache",
        )
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if glue:
        for k, v in GLUE_CONFS.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A frame of driver-held ``rows`` typed by the DDL ``schema``.

    The rows cross to the JVM as one Arrow table and become a
    ``LocalRelation``: jobs that scan it run in the JVM alone. The list
    form of ``createDataFrame`` builds a Python RDD instead, and every
    job over it starts a Python worker to re-serialize the rows. Arrow
    raises on a value that does not fit its column's type.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table)
