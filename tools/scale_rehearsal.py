"""Scale rehearsal: measure the row-count scaling exponents of the
top-5 expensive operator families on the generated gen1/gen3/gen10
corpora (tools/gen_scale_corpus.py) and print a table for SCALE.md §8.

exponent between consecutive scales = log(t2/t1) / log(n2/n1);
~1.0 = linear (band-join collision floor claim holds), >1.3 flagged.

Usage: python tools/scale_rehearsal.py [reps] [prefix]
prefix: "gen" (collision-floor corpus, 40-word vocab — the driver
corpus's regime) or "genh" (20k-type zipf vocab — web shingle
entropy). Run both; the minhash exponent difference IS the finding.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from easy_alterator_spark.queries import QUERIES, load_all
from easy_alterator_spark.session import get_spark

FAMILIES = [
    ("dedup_minhash_lsh", "docs"),
    ("dedup_incremental", "docs"),
    ("decontaminate_bloom", "docs"),
    ("sim_ann_ivf", "vecs"),
    ("dedup_semantic", "vecs"),
]
# round-7 continuation families (events-grained; run with
# `python tools/scale_rehearsal.py <reps> gen r7`)
FAMILIES_R7 = [
    ("events_stickiness", "events"),
    ("events_velocity_flags", "events"),
    ("join_nearest_event", "events"),
    ("events_rfm_segments", "events"),
    ("stats_ks_test", "events"),
    ("text_rake_scores", "docs"),
]
# round-9 heavy families (VERDICT r8 task 7): the graph/recsys pair
# whose scale-safe variants landed this round, the iterative kmeans,
# and the two standing dedup heavies — run with
# `python tools/scale_rehearsal.py <reps> gen r9`
FAMILIES_R9 = [
    ("graph_triangles", "events"),
    ("rec_item_cooccur", "events"),
    ("cluster_kmeans", "vecs"),
    ("dedup_minhash_lsh", "docs"),
    ("dedup_incremental", "docs"),
]
# round-10 hot-user axis (VERDICT r9 task 3): the per-user pair
# builds and the per-user window family, measured on the genu corpus
# (5 bot users hold 25% of events with uniform item draws) vs the
# plain gen corpus — run BOTH prefixes:
# `python tools/scale_rehearsal.py 2 gen r10` and `... 2 genu r10`
FAMILIES_R10 = [
    ("graph_triangles", "events"),
    ("rec_item_cooccur", "events"),
    ("events_sessionize", "events"),
    ("events_rolling_7d", "events"),
    ("feature_lag_matrix", "events"),
]
SCALES = [
    (1, 5000, 2000, 100_000),
    (3, 15000, 6000, 300_000),
    (10, 50000, 20000, 1_000_000),
]
# extended curve (4th CLI arg "ext"): adds the 30x point — generate
# the dirs first with `python tools/gen_scale_corpus.py .scale 30`
SCALES_EXT = SCALES + [(30, 150000, 60000, 3_000_000)]


def main(
    reps: int = 2, prefix: str = "gen", fam: str = "core", ext: str = ""
) -> None:
    families = {
        "r7": FAMILIES_R7,
        "r9": FAMILIES_R9,
        "r10": FAMILIES_R10,
    }.get(fam, FAMILIES)
    scales = SCALES_EXT if ext == "ext" else SCALES
    load_all()
    spark = get_spark("scale-rehearsal", master="local[32]")
    results: dict[str, dict[int, float]] = {}
    for mult, *_ in scales:
        sf_dir = f"{REPO}/.scale/{prefix}{mult}"
        for name, _kind in families:
            q = QUERIES[name]
            q(spark, sf_dir).collect()  # warm (plan + page cache)
            best = min(
                _timed(q, spark, sf_dir) for _ in range(reps)
            )
            results.setdefault(name, {})[mult] = best
            print(f"{prefix}{mult} {name}: {best:.2f}s", flush=True)
    mults = [m for m, *_ in scales]
    hdr = " | ".join(f"t({m}x)" for m in mults)
    ehdr = " | ".join(
        f"exp {a}->{b}" for a, b in zip(mults, mults[1:])
    )
    print(f"\n| family | rows base | {hdr} | {ehdr} |")
    print("|---|" + "---|" * (len(mults) * 2))
    for name, kind in families:
        r = results[name]
        n = {
            m: (d if kind == "docs" else (v if kind == "vecs" else e))
            for m, d, v, e in scales
        }
        ts = " | ".join(f"{r[m]:.2f}" for m in mults)
        es = " | ".join(
            f"{math.log(r[b] / r[a]) / math.log(n[b] / n[a]):.2f}"
            for a, b in zip(mults, mults[1:])
        )
        print(f"| {name} | {n[1]} {kind} | {ts} | {es} |")


def _timed(q, spark, sf_dir) -> float:
    t = time.time()
    q(spark, sf_dir).collect()
    return time.time() - t


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 2,
        sys.argv[2] if len(sys.argv) > 2 else "gen",
        sys.argv[3] if len(sys.argv) > 3 else "core",
        sys.argv[4] if len(sys.argv) > 4 else "",
    )
