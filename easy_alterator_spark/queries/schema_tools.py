"""Driver-contract queries for the schema-diff engine and multimodal
plumbing.

These run on embedded deterministic fixtures (the diff engine's inputs
are DDL text + catalog snapshots, not the relational test tables), so
they register WITHOUT DuckDB oracles — the driver records a rows-only
check and the golden-fixture tests in tests/test_schema_diff.py carry
the value-level correctness burden.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from . import query

_DDLS = [
    (
        "hql/raw_sales.hql",
        """CREATE EXTERNAL TABLE `sdb.raw_sales`(
            `id` int, `amount` double, `ile1` string,
            `sovereign_guarantee_flag` string)
        PARTITIONED BY (`day_rk` date) STORED AS PARQUET;""",
    ),
    (
        "hql/widen.hql",
        "CREATE EXTERNAL TABLE `sdb.widen`(`c1` bigint, `c2` double) STORED AS PARQUET;",
    ),
    (
        "hql/quaterly.hql",
        """CREATE EXTERNAL TABLE `sdb.quaterly`(`m` double) STORED AS PARQUET;""",
    ),
    (
        "hql/ice.hql",
        """CREATE TABLE `db.ice` (
            `col1` string,
            -- `col2` double,
            `col5` bigint, -- renamed_from: col4
            `new_col` timestamp,
            `seq_col` string, -- after: col1
        ) USING iceberg
        TBLPROPERTIES('write.merge.mode'='merge-on-read');""",
    ),
    (
        "hql/pos.hql",
        """CREATE TABLE `db.pos` (
            `a` string,
            `c` string, -- after: a
            `d` string, -- after: c
            `b` string
        ) USING iceberg;""",
    ),
]

_CAT_COLS = [
    ("sdb.raw_sales", "id", "int", 0, False, None),
    ("sdb.raw_sales", "amount", "double", 1, False, None),
    ("sdb.raw_sales", "rbs_trading_counterparty", "string", 2, False, None),
    ("sdb.raw_sales", "day_rk", "date", 0, True, None),
    ("sdb.widen", "c1", "int", 0, False, None),
    ("sdb.widen", "c2", "float", 1, False, None),
    ("sdb.quaterly", "m", "bigint", 0, False, None),
    ("db.ice", "col1", "string", 0, False, 1),
    ("db.ice", "col2", "double", 1, False, 2),
    ("db.ice", "col4", "long", 2, False, 3),
    ("db.pos", "a", "string", 0, False, 1),
    ("db.pos", "b", "string", 1, False, 2),
    ("db.pos", "c", "string", 2, False, 3),
    ("db.pos", "d", "string", 3, False, 4),
]

_CAT_TABLES = [
    ("sdb.raw_sales", "EXTERNAL_TABLE", "PARQUET", None, {}, "3"),
    ("sdb.widen", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("sdb.quaterly", "EXTERNAL_TABLE", "PARQUET", None, {}, "1"),
    ("db.ice", "EXTERNAL_TABLE", "ICEBERG", "s3://b/m.json", {"owner": "me"}, "4"),
    ("db.pos", "EXTERNAL_TABLE", "ICEBERG", "s3://b/p.json", {}, "1"),
]


def _fixtures(spark):
    from ..ddl.parser import corpus_from_rows, parse_ddl_corpus
    from ..diff.catalog import COLS_SCHEMA, TABLES_SCHEMA

    parsed = parse_ddl_corpus(corpus_from_rows(spark, _DDLS))
    cat_cols = local_frame(spark, _CAT_COLS, COLS_SCHEMA)
    cat_tables = local_frame(spark, _CAT_TABLES, TABLES_SCHEMA)
    return parsed, cat_cols, cat_tables


@query("ddl_hive_diff", bench=False)  # fixture-driven; rows-only check
def ddl_hive_diff(spark, sf_dir):
    """Corpus-wide Hive routing + schema diff -> flat outcome rows."""
    from ..diff import hive_diff

    parsed, cat_cols, cat_tables = _fixtures(spark)
    out = hive_diff(parsed, cat_cols, cat_tables)
    return out.select(
        "file_path",
        "table_name",
        "outcome",
        "reason",
        F.to_json("add").alias("add_json"),
        F.to_json("delete").alias("delete_json"),
        F.to_json("incompatible").alias("incompatible_json"),
    ).orderBy("file_path")


@query("ddl_iceberg_diff", bench=False)  # fixture-driven; rows-only check
def ddl_iceberg_diff(spark, sf_dir):
    """Iceberg rename/drop/new/position diff -> one flat row per table."""
    from ..diff import iceberg_diff

    parsed, cat_cols, cat_tables = _fixtures(spark)
    ice = iceberg_diff(parsed, cat_cols, cat_tables)
    return ice.select(
        "table_name",
        "requires_migration",
        F.to_json("new_cols").alias("new_json"),
        F.to_json("dropped").alias("dropped_json"),
        F.to_json("renamed").alias("renamed_json"),
        F.to_json("position_candidates").alias("candidates_json"),
        F.to_json("props_new").alias("props_json"),
    ).orderBy("table_name")


def _bulk_fixture(spark, n_tables: int = 500):
    """Deterministic n-table corpus + catalog with mixed drift: every
    5th table adds a column, every 7th retypes (incompatible), every
    11th widens (compatible), every 13th drops; the rest are identical.
    This is the schema-diff THROUGHPUT surface (BASELINE.md: >=458
    tables/run) — one projection, no per-table loop, no catalog calls
    from executors. The frames are built and parsed anew on each call:
    no state carries one timed run into the next."""
    ddls, cat_cols, cat_tables = [], [], []
    for i in range(n_tables):
        t = f"bulk.t{i:04d}"
        cols = [("id", "int"), ("amount", "double"), (f"c{i % 3}", "string")]
        ddl_cols = list(cols)
        if i % 5 == 0:
            ddl_cols.append((f"new_{i}", "string"))
        if i % 7 == 0:
            ddl_cols[1] = ("amount", "string")  # incompatible
        if i % 11 == 0:
            ddl_cols[0] = ("id", "bigint")  # compatible widening
        if i % 13 == 0:
            ddl_cols = ddl_cols[:-1]  # dropped column
        body = ", ".join(f"`{c}` {ty}" for c, ty in ddl_cols)
        ddls.append(
            (f"hql/bulk_{i:04d}.hql",
             f"CREATE EXTERNAL TABLE `{t}` ({body}) STORED AS PARQUET;")
        )
        for pos, (c, ty) in enumerate(cols):
            cat_cols.append((t, c, ty, pos, False, None))
        cat_tables.append((t, "EXTERNAL_TABLE", "PARQUET", None, {}, "1"))
    from ..ddl.parser import corpus_from_rows, parse_ddl_corpus
    from ..diff.catalog import COLS_SCHEMA, TABLES_SCHEMA

    return (
        parse_ddl_corpus(corpus_from_rows(spark, ddls)),
        local_frame(spark, cat_cols, COLS_SCHEMA),
        local_frame(spark, cat_tables, TABLES_SCHEMA),
    )


@query("ddl_diff_bulk")  # throughput surface; rows-only check
def ddl_diff_bulk(spark, sf_dir):
    """Diff 500 tables as one corpus-wide projection; outcome histogram.

    The reference analyzes 458 tables with >=458 sequential catalog
    round-trips (README.md:107, alterator.py:518); here the diff is one
    projection evaluated on the driver; only the ``groupBy`` is a job.
    """
    from ..diff import hive_diff

    parsed, cat_cols, cat_tables = _bulk_fixture(spark, 500)
    out = hive_diff(parsed, cat_cols, cat_tables)
    return (
        out.groupBy("outcome", "reason")
        .agg(F.count("*").alias("n"))
        .orderBy("outcome", "reason")
    )


# ---------------------------------------------------------------------------
# Multimodal decode family — oracle-bearing since round 7.
#
# synthesize_media(n=120) derives every blob from a closed-form byte
# formula: content[j] = (i*7 + j) % 256, len = 128 + (i % 5) * 1024,
# kind = (image, audio, video)[i % 3]. The stub decoders are pure
# functions of those bytes, so DuckDB can RECOMPUTE the whole decode
# from generate_series — the multimodal_exact_dedup recomputable-bytes
# pattern extended to the decode/resize/frame/energy stages. All stub
# arithmetic is integer-exact or single-IEEE-op (h is the little-endian
# uint64 of the first 8 bytes, rebuilt in HUGEINT; RMS windows sum
# exactly representable dyadics; floor-grids replace ROUND), so the
# hashes match bit-for-bit under the driver's dtype-strict canon.
# ---------------------------------------------------------------------------

# h(i): little-endian uint64 of the first 8 synthetic bytes, exact in
# HUGEINT. 256^7 = 72057594037927936 fits BIGINT; each product widens.
_MEDIA_H = " + ".join(
    f"(((i*7 + {j}) % 256)::HUGEINT * {256**j})" for j in range(8)
)
_MEDIA_BASE = f"""
    media AS (SELECT i, 128 + (i % 5) * 1024 AS len,
                     {_MEDIA_H} AS h
              FROM generate_series(0, 119) g(i))
"""


@query(
    "multimodal_image_features",
    bench=False,
    oracle=f"""
    WITH {_MEDIA_BASE},
    img AS (SELECT i, h FROM media WHERE i % 3 = 0)
    SELECT i AS media_id,
           (64 + (h % 1024))::INT AS width,
           (64 + ((h // 1024) % 1024))::INT AS height,
           ((h % 251)::DOUBLE / 251.0) AS f0
    FROM img
    """,
)
def multimodal_image_features(spark, sf_dir):
    """Arrow-batched decode over binary media columns (Spark-side
    schema/partitioning/batch shape real; use_pil=False pins the
    deterministic stub — the synthetic bytes aren't valid images, so
    the result stays container-independent; real decode is unit-tested
    behind the PIL gate in tests/test_multimodal_gate.py). f0 is the
    first feature: (h % 251) / 251, an exact small-int division both
    engines compute identically."""
    from ..operators.multimodal import decode_images, synthesize_media

    media = synthesize_media(spark, n=120)
    return decode_images(media, use_pil=False).select(
        "media_id", "width", "height", F.element_at("features", 1).alias("f0")
    ).orderBy("media_id")


@query(
    "multimodal_frame_sample",
    bench=False,
    oracle=f"""
    WITH {_MEDIA_BASE},
    vid AS (SELECT i, GREATEST(len // 1024, 1) AS nf
            FROM media WHERE i % 3 = 2)
    SELECT i AS media_id,
           ((nf + 1) // 2)::BIGINT AS n_frames,
           (((nf - 1) // 2) * 2)::BIGINT AS max_idx
    FROM vid
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Every-2nd-frame sampling over video blobs: the stub emits
    frames 0, 2, ... below nf = max(1, len // 1024), so the per-blob
    count/max are pure integer functions of the blob length."""
    from ..operators.multimodal import sample_frames, synthesize_media

    media = synthesize_media(spark, n=120)
    return (
        # use_ffmpeg=False pins the stub tier: with ffmpeg installed
        # the auto tier would find 0 frames in the synthetic garbage
        # and the oracle would mismatch — environment-independence is
        # the contract for driver-checked entries
        sample_frames(media, every_n=2, use_ffmpeg=False)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_idx").cast("long").alias("max_idx"),
        )
        .orderBy("media_id")
    )


@query(
    "multimodal_resize",
    bench=False,
    # mirrors _resize_image_stub exactly: scale = min(1, 128/max(w,h))
    # (one IEEE division), new dims truncate w*scale, byte budget
    # truncates len * area-ratio — L*nw*nh < 2^53 so the DOUBLE
    # product is exact and both engines floor the same value.
    oracle=f"""
    WITH {_MEDIA_BASE},
    img AS (SELECT i, len,
                   64 + (h % 1024) AS w,
                   64 + ((h // 1024) % 1024) AS ht
            FROM media WHERE i % 3 = 0),
    sc AS (SELECT i, len, w, ht,
                  LEAST(1.0, 128.0 / GREATEST(w, ht)) AS scale
           FROM img),
    dims AS (SELECT i, len, w, ht,
                    GREATEST(1, FLOOR(w * scale))::BIGINT AS nw,
                    GREATEST(1, FLOOR(ht * scale))::BIGINT AS nh
             FROM sc)
    SELECT i AS media_id, nw AS width, nh AS height,
           GREATEST(1, FLOOR((len * nw * nh)::DOUBLE / (w * ht)))::BIGINT
               AS n_bytes
    FROM dims
    """,
)
def multimodal_resize(spark, sf_dir):
    """Aspect-preserving resize over binary image columns (stubbed
    codec, real batch pipeline — output is a binary media column so
    stages chain; real path unit-tested behind the PIL gate). The
    oracle recomputes the stub's dims and truncated byte budget from
    the synthetic byte formula."""
    from ..operators.multimodal import resize_images, synthesize_media

    media = synthesize_media(spark, n=120)
    return resize_images(media, max_side=128, use_pil=False).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("content").cast("long").alias("n_bytes"),
    ).orderBy("media_id")


@query(
    "multimodal_audio_energy",
    bench=False,
    # raw-byte path: sample s = (byte - 128)/128 is an exact dyadic,
    # s*s sums are exactly representable in float64 (multiples of
    # 2^-14 bounded by 256), so SUM order is irrelevant; sqrt is
    # correctly rounded IEEE; per-window RMS floor-grids to 1e-6 and
    # the mean divides an exact integer sum by n — every step is
    # engine-identical.
    oracle=f"""
    WITH {_MEDIA_BASE},
    aud AS (SELECT i, len, GREATEST(len // 256, 1) AS n
            FROM media WHERE i % 3 = 1),
    -- generate_series can't take lateral column bounds in DuckDB:
    -- cross-join the max-length series (len <= 4224) and filter
    samp AS (SELECT a.i, a.n, j // 256 AS w,
                    ((((a.i*7 + j) % 256) - 128) / 128.0) AS s
             FROM aud a, generate_series(0, 4223) g(j)
             WHERE j < CASE WHEN a.len >= 256 THEN a.n * 256
                            ELSE a.len END),
    win AS (SELECT i, n, w,
                   FLOOR(SQRT(SUM(s * s) / COUNT(*)) * 1e6) AS rms6
            FROM samp GROUP BY i, n, w)
    SELECT i AS media_id, n::INT AS n_windows,
           FLOOR(SUM(rms6) / n) / 1e6 AS mean_energy,
           MAX(rms6) / 1e6 AS peak_energy
    FROM win GROUP BY i, n
    """,
)
def multimodal_audio_energy(spark, sf_dir):
    """Windowed RMS energy per audio blob — real numpy window math
    over Arrow batches (bytes as unsigned samples; codec decode slots
    in front of the same windowing). The oracle re-derives every
    sample from the synthetic byte formula and replays the windowed
    RMS in SQL."""
    from ..operators.multimodal import audio_features, synthesize_media

    media = synthesize_media(spark, n=120)
    # use_soundfile=False pins the raw-byte tier (the synthetic blobs
    # are not decodable audio on any tier, but the pin makes the
    # oracle's environment-independence explicit)
    return audio_features(media, window_bytes=256, use_soundfile=False).orderBy(
        "media_id"
    )
