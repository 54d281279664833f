"""Seeded input generators for the benchmark.

Everything the program sees is made here from the ``--seed``: a
star-schema table set shaped like the sf0.1 bench tables, the
high-entropy dedup corpus, and the ``cli_alter`` DDL corpus with the
live catalog it is diffed against. The same seed gives the same
inputs. Row counts and table-kind counts do not depend on the seed, so
seeds vary values and names, never the amount of work.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

import gen_scale_corpus  # noqa: E402
from gen_scale_corpus import (  # noqa: E402
    ROW_GROUP,
    gen_documents,
    gen_embeddings,
    gen_events,
)

# sf0.1 row counts of the bench tables the benchmark's queries read,
# except documents: sf0.1 has 5000, cut to 1500 so that a warm
# query_mix pass, collision-floor dedup included, takes seconds and a
# run fits several passes
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "events": 100_000,
    "documents": 1_500,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "cold", "red", "thin", "dark"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "valve", "plate", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP
    )


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write the sf0.1-shaped tables the benchmark's queries read into
    ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    n = SF01_ROWS["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(
                [SEGMENTS[i] for i in rng.integers(0, 5, n)], pa.string()
            ),
        }
    )
    n = SF01_ROWS["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        }
    )
    n = SF01_ROWS["part"]
    adj = rng.integers(0, len(PART_ADJ), n)
    noun = rng.integers(0, len(PART_NOUN), n)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n)], pa.string()
            ),
            "p_type": pa.array(
                [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n)],
                pa.string(),
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + rng.integers(0, 20_000, n) / 10.0, 2)
            ),
        }
    )
    tables["events"] = gen_events(SF01_ROWS["events"], EVENT_USERS, seed=seed)
    tables["documents"] = floor_documents(SF01_ROWS["documents"], seed)
    tables["embeddings"] = gen_embeddings(SF01_ROWS["embeddings"], seed=seed)
    for name, t in tables.items():
        _write(t, out_dir, name)


# The sf0.1 bench documents: 30 words, 10-100 tokens per text, so token
# SETS overlap heavily and MinHash/LSH sits at its collision floor
# (about a million pairs at Jaccard >= 0.9 among 5000 documents, about
# a tenth of that among 1500).
FLOOR_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
FLOOR_LANGS = ["en"] * 8 + ["es", "zh", "de", "fr"] * 3


def floor_documents(n: int, seed: int) -> pa.Table:
    # The token structure depends on ``n`` only; the seed renames the
    # words and orders the documents. Jaccard is invariant under both, so
    # every seed gives the same number of pairs (drawing the tokens from
    # the seed moves it by about 10%, and the dedup time with it).
    rng = np.random.default_rng(n)
    lengths = rng.integers(10, 101, n)
    toks = rng.integers(0, len(FLOOR_VOCAB), lengths.sum())
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [toks[a:b].copy() for a, b in zip(bounds[:-1], bounds[1:])]
    # ~5% near-duplicates: a copy of an earlier text with one token
    # replaced by a marker word
    dup = len(FLOOR_VOCAB)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            words = docs[int(rng.integers(0, i))].copy()
            words[int(rng.integers(0, len(words)))] = dup
            docs[i] = words
    srng = np.random.default_rng(seed)
    vocab = np.array(FLOOR_VOCAB + ["dup"], dtype=object)
    vocab[:dup] = vocab[:dup][srng.permutation(dup)]
    texts = [" ".join(vocab[docs[i]]) for i in srng.permutation(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [FLOOR_LANGS[i] for i in srng.integers(0, len(FLOOR_LANGS), n)],
                pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


_HIGH_CUM = list(itertools.accumulate(gen_scale_corpus._HIGH_WEIGHTS))


class _CumWeightsRandom(random.Random):
    """``random.Random`` that reuses the cumulative weights of the
    20k-word vocabulary instead of re-summing them on every draw.
    ``choices(weights=w)`` is defined as ``choices(cum_weights=
    accumulate(w))``, so the drawn sequence is identical."""

    def choices(self, population, weights=None, *, cum_weights=None, k=1):
        if weights is gen_scale_corpus._HIGH_WEIGHTS:
            weights, cum_weights = None, _HIGH_CUM
        return super().choices(population, weights, cum_weights=cum_weights, k=k)


def genh_documents(n: int, seed: int) -> pa.Table:
    """``tools/gen_scale_corpus.gen_documents(n, Random(seed),
    entropy="high")``, about ten times faster."""
    return gen_documents(n, _CumWeightsRandom(seed), entropy="high")


def write_genh_documents(out_dir: str, seed: int) -> None:
    """The high-entropy dedup corpus: same row count as the sf0.1
    documents, 20k-type vocabulary, so LSH band buckets stay small."""
    os.makedirs(out_dir, exist_ok=True)
    _write(genh_documents(SF01_ROWS["documents"], seed), out_dir, "documents")


# ---------------------------------------------------------------------------
# cli_alter: DDL corpus + live catalog + expected report outcome per table
# ---------------------------------------------------------------------------

# Table kinds and their share of the corpus. Counts are fixed per
# corpus size (largest-remainder rounding), so every seed runs the
# same mix; the seed only changes names, widths and column types.
KIND_SHARES = (
    ("hive_identical", 0.44),
    ("hive_add", 0.16),
    ("hive_incompatible", 0.08),
    ("hive_new", 0.04),
    ("hive_migration", 0.04),
    ("ice_identical", 0.12),
    ("ice_add", 0.06),
    ("ice_props", 0.06),
)

# DDL type -> iceberg metadata.json type (Iceberg spells decimals with
# a space after the comma)
HIVE_TYPES = ("int", "bigint", "string", "double", "date", "boolean", "decimal(10,2)")
ICE_META_TYPE = {"bigint": "long", "decimal(10,2)": "decimal(10, 2)"}
# retyping any of these to string is incompatible on the athena matrix
INCOMPATIBLE_FROM = ("bigint", "double", "date", "boolean")
ICE_PROPS = {"write.merge.mode": "merge-on-read", "write.delete.mode": "merge-on-read"}


def kind_counts(n_tables: int) -> dict[str, int]:
    raw = [(k, s * n_tables) for k, s in KIND_SHARES]
    counts = {k: int(v) for k, v in raw}
    short = n_tables - sum(counts.values())
    for k, v in sorted(raw, key=lambda kv: kv[1] - int(kv[1]), reverse=True)[:short]:
        counts[k] += 1
    return counts


def _columns(rng: random.Random, tag: str) -> list[tuple[str, str]]:
    n = rng.randint(6, 14)
    cols = [(f"{tag}_id", "bigint")]
    cols += [(f"c{i:02d}_{rng.randrange(1000):03d}", rng.choice(HIVE_TYPES)) for i in range(1, n)]
    # at least one column the incompatible kind can retype
    if not any(t in INCOMPATIBLE_FROM for _, t in cols[1:]):
        cols[-1] = (cols[-1][0], "double")
    return cols


def _hive_ddl(table: str, cols, partitioned: bool) -> str:
    body = ",\n  ".join(f"`{c}` {t}" for c, t in cols)
    part = "\nPARTITIONED BY (`day_rk` date)" if partitioned else ""
    loc = table.replace(".", "/")
    return (
        f"CREATE EXTERNAL TABLE `{table}`(\n  {body})"
        f"{part}\nSTORED AS PARQUET\n"
        f"LOCATION 's3://lake-{{aws_account_id}}/{loc}';\n"
    )


def _ice_ddl(table: str, cols, props: dict[str, str]) -> str:
    body = ",\n  ".join(f"`{c}` {t}" for c, t in cols)
    kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
    return (
        f"CREATE TABLE `{table}` (\n  {body},\n  `day_rk` date\n) USING iceberg\n"
        f"PARTITIONED BY (`day_rk`)\nTBLPROPERTIES({kv});\n"
    )


def _ice_metadata(cols, props: dict[str, str]) -> dict:
    fields = [
        {"id": i + 1, "name": c, "required": False, "type": ICE_META_TYPE.get(t, t)}
        for i, (c, t) in enumerate(cols + [("day_rk", "date")])
    ]
    return {
        "format-version": 2,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "field-id": 1000,
                        "name": "day_rk",
                        "transform": "identity",
                        "source-id": len(fields),
                    }
                ],
            }
        ],
        "properties": {"owner": "etl", **props},
    }


def cli_corpus(db: str, n_tables: int, seed: int) -> list[dict]:
    """Plan of the cli_alter corpus: one dict per table with its kind,
    catalog schema, DDL schema and the report outcome the program must
    produce. Pure (no I/O) so its determinism is testable."""
    rng = random.Random(seed)
    kinds = [k for k, c in kind_counts(n_tables).items() for _ in range(c)]
    rng.shuffle(kinds)
    plan = []
    for i, kind in enumerate(kinds):
        name = f"{db}.t{i:03d}_{kind.split('_')[0]}_{rng.randrange(16**4):04x}"
        cols = _columns(rng, f"k{i}")
        entry: dict = {"table": name, "kind": kind, "catalog_cols": cols, "ddl_cols": cols}
        if kind.startswith("hive"):
            entry["partitioned"] = rng.random() < 0.5
        if kind == "hive_add":
            adds = [(f"n{j}_{rng.randrange(1000):03d}", rng.choice(HIVE_TYPES)) for j in range(rng.randint(1, 3))]
            entry["ddl_cols"] = cols + adds
            entry["expect"] = {"outcome": "success", "add": adds}
        elif kind == "hive_incompatible":
            idx = rng.choice([j for j, (_, t) in enumerate(cols) if j and t in INCOMPATIBLE_FROM])
            ddl = list(cols)
            ddl[idx] = (cols[idx][0], "string")
            entry["ddl_cols"] = ddl
            entry["expect"] = {
                "outcome": "skipped",
                "reason": "IncompatibleDataTypeError",
                "incompatible": [cols[idx][0]],
            }
        elif kind == "hive_new":
            entry["catalog_cols"] = None
            entry["expect"] = {"outcome": "new"}
        elif kind == "hive_migration":
            entry["ice_props"] = dict(ICE_PROPS)
            entry["expect"] = {"outcome": "migration"}
        elif kind == "hive_identical":
            entry["expect"] = {"outcome": "identical"}
        else:  # iceberg-shaped live tables
            entry["ice_props"] = dict(ICE_PROPS)
            entry["ddl_props"] = dict(ICE_PROPS)
            if kind == "ice_add":
                add = (f"n0_{rng.randrange(1000):03d}", rng.choice(("int", "string", "double")))
                entry["ddl_cols"] = cols + [add]
                entry["expect"] = {"outcome": "iceberg", "new": [add[0]]}
            elif kind == "ice_props":
                entry["ddl_props"] = {**ICE_PROPS, "write.delete.mode": "copy-on-write"}
                entry["expect"] = {"outcome": "iceberg", "props_updated": ["write.delete.mode"]}
            else:
                entry["expect"] = {"outcome": "identical"}
        plan.append(entry)
    return plan


def write_cli_ddl(plan: list[dict], ddl_dir: str) -> None:
    os.makedirs(ddl_dir, exist_ok=True)
    for e in plan:
        if e["kind"].startswith("hive") and e["kind"] != "hive_migration":
            text = _hive_ddl(e["table"], e["ddl_cols"], e["partitioned"])
        elif e["kind"] == "hive_migration":
            text = _ice_ddl(e["table"], e["ddl_cols"], e["ice_props"])
        else:
            text = _ice_ddl(e["table"], e["ddl_cols"], e["ddl_props"])
        with open(os.path.join(ddl_dir, e["table"].split(".")[1] + ".hql"), "w") as f:
            f.write(text)


def create_catalog_table(spark, e: dict, meta_dir: str) -> None:
    """(Re)create one live catalog table of the plan in the session
    catalog. Iceberg-shaped tables are v1 parquet tables carrying a
    ``metadata_location`` to a metadata.json, the shape the snapshot
    reads for Glue Iceberg tables."""
    t = e["table"]
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    cols = e["catalog_cols"]
    if cols is None:
        return
    body = ", ".join(f"`{c}` {ty}" for c, ty in cols)
    if e["kind"].startswith("ice"):
        path = os.path.join(meta_dir, t.replace(".", "_") + ".v1.metadata.json")
        with open(path, "w") as f:
            json.dump(_ice_metadata(cols, e["ice_props"]), f)
        spark.sql(
            f"CREATE TABLE {t} ({body}, `day_rk` date) USING parquet "
            f"TBLPROPERTIES ('metadata_location'='{path}')"
        )
    elif e.get("partitioned"):
        spark.sql(
            f"CREATE TABLE {t} ({body}, `day_rk` date) USING parquet PARTITIONED BY (day_rk)"
        )
    else:
        spark.sql(f"CREATE TABLE {t} ({body}) USING parquet")
