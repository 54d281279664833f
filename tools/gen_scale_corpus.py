"""Repo-local scale-rehearsal corpus generator (r3 verdict task 7).

Synthesizes documents/embeddings parquet at multiples of the bench
scale so the sf0.1 -> sf1 scaling curve of the expensive operator
families can be MEASURED, not asserted. Deterministic (seed fixed),
distribution-matched to the driver corpus in the ways that matter for
those families:

- documents: ~59-token texts over a small Spark-ish vocabulary (the
  driver's documents use the same shape), zipf-ish lang mix, 20
  sources, ~2% exact-duplicate rows in groups of 2-3 and ~1%
  near-duplicates (one-token edits) — so MinHash/LSH collision mass
  grows linearly with rows, the property under test.
- embeddings: 10 gaussian clusters in 64-dim float32 plus ~1% planted
  exact duplicates (the IVF/semantic shapes bucket on cluster
  structure).

Files are written with 5000-row parquet row groups so Spark gets real
scan splits at the larger scales (the driver's single-row-group files
cap the bench at one task per scan — representative of nothing at
100 TB).

Usage: python tools/gen_scale_corpus.py [out_root] [mults]
Writes <out_root>/{gen,genh,genu}{mult}/ parquet for each mult in the
comma-separated ``mults`` (default "1,3,10"; pass "30" to extend the
scaling curves — gen1 == bench-scale row counts: 5000 docs / 2000
vectors). Never touches /root/testdata (read-only).
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "shuffle plan stage task broadcast skew salt bucket codec page footer "
    "vector arrow pandas numpy executor driver"
).split()
# high-entropy variant: ~20k-type zipf-ish vocabulary, the shingle
# entropy of a real web corpus — 5-gram shingles are then near-unique,
# so MinHash band buckets stay small (the regime the near-linear
# scaling claim is about; the 40-word VOCAB above reproduces the
# driver corpus's collision-floor regime instead)
VOCAB_HIGH = [f"w{i}" for i in range(20000)]
_HIGH_WEIGHTS = [1.0 / (i + 10) for i in range(len(VOCAB_HIGH))]
LANGS = ["en"] * 6 + ["zh", "es", "de", "fr"]
DOCS_BASE = 5000
VECS_BASE = 2000
DIM = 64
ROW_GROUP = 5000
# the corpora land in the repo's own .scale/, where scale_rehearsal.py reads them
SCALE_DIR = str(Path(__file__).resolve().parents[1] / ".scale")


def gen_documents(n: int, rng: random.Random, entropy: str = "low"):
    def draw_tokens(k):
        if entropy == "high":
            return rng.choices(VOCAB_HIGH, weights=_HIGH_WEIGHTS, k=k)
        return [rng.choice(VOCAB) for _ in range(k)]

    rows = []
    i = 0
    while i < n:
        toks = draw_tokens(rng.randint(20, 80))
        text = " ".join(toks)
        lang = rng.choice(LANGS)
        source = f"src{rng.randrange(20)}"
        rows.append((i, text, lang, source, len(text)))
        i += 1
        r = rng.random()
        if r < 0.02 and i < n:  # exact-duplicate group of 2-3
            for _ in range(rng.randint(1, 2)):
                if i >= n:
                    break
                rows.append((i, text, lang, source, len(text)))
                i += 1
        elif r < 0.03 and i < n:  # near-duplicate: one-token edit
            t2 = list(toks)
            t2[rng.randrange(len(t2))] = draw_tokens(1)[0]
            nd = " ".join(t2)
            rows.append((i, nd, lang, source, len(nd)))
            i += 1
    cols = list(zip(*rows))
    return pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )


def gen_embeddings(n: int, seed: int):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, size=(10, DIM))
    labels = rng.integers(0, 10, size=n)
    X = centers[labels] + rng.normal(0, 0.15, size=(n, DIM))
    # ~1% planted exact duplicates of the previous row
    dup = rng.random(n) < 0.01
    dup[0] = False
    idx = np.arange(n)
    X[dup] = X[idx[dup] - 1]
    labels[dup] = labels[idx[dup] - 1]
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                [row for row in X.astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


EVENTS_BASE = 100_000
USERS_BASE = 1_500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def gen_events(n: int, n_users: int, seed: int, hot_users: int = 0):
    """sf0.1-shaped events table: 30 days of naive-micros timestamps,
    zipf-ish per-user activity (skewed keys are the property the
    per-user window families are measured under), 5 types, lognormal
    values. Users scale with rows so per-user streams stay ~constant
    — the honest 100 TB regime (more users, not 10x-deeper users).

    ``hot_users`` > 0 switches on the HOT-USER regime (r9 verdict
    task 3): that many bot-grade users absorb 25% of all events and
    draw their items UNIFORMLY over the whole catalog (not zipf), so
    each holds 10-100x the median user's event count and a distinct-
    item set that grows with catalog size — the axis that explodes
    per-user self-joins quadratically and that the 256-item caps in
    rec_item_cooccur / graph_triangles exist to bound. The hub-item
    zipf rehearsal (plain ``gen``) holds baskets ~constant, so this is
    the complementary stress."""
    rng = np.random.default_rng(seed)
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC in micros
    span_us = 30 * 86_400 * 1_000_000
    # zipf-ish user draw: weights 1/(rank+5)
    w = 1.0 / (np.arange(n_users) + 5.0)
    users = rng.choice(n_users, size=n, p=w / w.sum()) + 1
    ts = base_us + rng.integers(0, span_us, size=n)
    types = rng.choice(len(EVENT_TYPES), size=n)
    values = np.round(np.exp(rng.normal(3.0, 1.0, size=n)), 2)
    # zipf-ish item draw for the co-visitation families ($.k): the
    # catalog scales with traffic and the head items are heavy
    # hitters — exactly the regime degree-oriented triangle counting
    # and the per-user cooccur cap are designed for
    n_items = max(100, n_users // 10)
    wi = 1.0 / (np.arange(n_items) + 10.0)
    items = rng.choice(n_items, size=n, p=wi / wi.sum()) + 1
    if hot_users:
        hot_mask = rng.random(n) < 0.25
        users[hot_mask] = rng.integers(1, hot_users + 1, size=hot_mask.sum())
        items[hot_mask] = rng.integers(1, n_items + 1, size=hot_mask.sum())
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in types], pa.string()
            ),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % i for i in items], pa.string()
            ),
        }
    )


def main(out_root: str = SCALE_DIR, mults=(1, 3, 10)) -> None:
    import os

    # genu = hot-user regime: 5 bot users absorb 25% of events with
    # uniform item draws (distinct-item sets grow with the catalog —
    # the per-user self-join explosion axis); docs/vectors as gen
    for prefix, entropy, hot in (
        ("gen", "low", 0),
        ("genh", "high", 0),
        ("genu", "low", 5),
    ):
        for mult in mults:
            d = os.path.join(out_root, f"{prefix}{mult}")
            os.makedirs(d, exist_ok=True)
            docs = gen_documents(DOCS_BASE * mult, random.Random(42 + mult), entropy)
            pq.write_table(
                docs, os.path.join(d, "documents.parquet"), row_group_size=ROW_GROUP
            )
            vecs = gen_embeddings(VECS_BASE * mult, seed=42 + mult)
            pq.write_table(
                vecs, os.path.join(d, "embeddings.parquet"), row_group_size=ROW_GROUP
            )
            evs = gen_events(
                EVENTS_BASE * mult,
                USERS_BASE * mult,
                seed=42 + mult,
                hot_users=hot,
            )
            pq.write_table(
                evs, os.path.join(d, "events.parquet"), row_group_size=ROW_GROUP
            )
            print(
                d,
                docs.num_rows,
                "docs,",
                vecs.num_rows,
                "vectors,",
                evs.num_rows,
                "events",
            )


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else SCALE_DIR,
        tuple(int(m) for m in sys.argv[2].split(","))
        if len(sys.argv) > 2
        else (1, 3, 10),
    )
