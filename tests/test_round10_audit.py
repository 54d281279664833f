"""Round-10 structural audits.

1. Rotation-staleness contract: the driver stamps only the FIRST 50
   entries of ``queries()`` each round, so with 282 oracle-bearing
   queries a stamp can legitimately age — but only boundedly. This
   test recomputes stamp age exactly the way the judge does (union of
   CORRECTNESS_r*.json, newest fully-green stamp per query) and fails
   when any oracle-bearing query is BOTH older than K rounds AND
   outside the current window, i.e. when the rotation policy in
   __spark_entry__.py has been violated rather than merely lagging.

   K = 7: with a 50-slot window and 282 oracle-bearing queries, a full
   sweep takes ceil(282/50) = 6 windows, and a burst of new/changed
   queries (which rightfully take slots first — round 9 added 23) can
   displace a tail by roughly one more window; beyond 7 rounds the
   only explanation is a forgotten rotation.

2. Degenerate-guard audit for the min-max eval family: all-tied
   scores must produce p6 = 0 on both engines, not a FLOOR(NaN)
   divergence (ADVICE r9).

3. graph_triangles hot-user cap: the per-user 256-item cap must
   actually bound the pair build (semantics test on a synthetic hot
   user), mirroring rec_item_cooccur's device.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Stamp-age bound, in rounds (see module docstring for the derivation).
STALENESS_K = 7

SF = "/root/testdata/sf0.001"


def _newest_green_stamps() -> tuple[dict[str, int], int]:
    """(query -> newest fully-green round, current in-progress round).

    Mirrors the judge's union: a stamp is green when rows and schema
    match and the value hash either matches or was not applicable
    (rows-only entries record hash_match null). The current round is
    one past the newest CORRECTNESS file — stamps are written at round
    end, so mid-round the in-flight window is not yet on disk.
    """
    newest: dict[str, int] = {}
    latest_round = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest_round = max(latest_round, rnd)
        with open(path) as fh:
            stamps = json.load(fh)
        for q, res in stamps.items():
            if not isinstance(res, dict):
                continue
            green = (
                res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match") in (True, None)
            )
            if green:
                newest[q] = max(newest.get(q, 0), rnd)
    return newest, latest_round + 1


def test_rotation_staleness_bounded():
    import __spark_entry__ as entrymod

    queries = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    window = set(queries[:50])
    newest, current = _newest_green_stamps()

    violations = []
    for q in oracles:
        if q in window:
            continue  # about to be (re)stamped this round
        age = current - newest.get(q, current - 999)
        if age > STALENESS_K:
            violations.append((q, newest.get(q), age))
    assert not violations, (
        f"rotation policy violated: {len(violations)} oracle-bearing "
        f"queries are outside the 50-slot window with stamps older "
        f"than K={STALENESS_K} rounds: {sorted(violations)[:10]}"
    )


def test_window_is_exactly_50_oracle_bearing():
    import __spark_entry__ as entrymod

    queries = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    window = queries[:50]
    missing = [q for q in window if q not in oracles]
    assert not missing, (
        f"window slots are wasted on rows-only entries: {missing}"
    )


# ---------------------------------------------------------------------------
# degenerate min-max guard: all scores tie -> p6 = 0 on both engines
# ---------------------------------------------------------------------------


def test_p6_minmax_degenerate_guard(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from easy_alterator_spark.queries.evalops import _p6_minmax

    df = spark.createDataFrame(
        pd.DataFrame({"s": [7, 7, 7], "lo": [7, 7, 7], "hi": [7, 7, 7]})
    )
    vals = [r[0] for r in df.select(_p6_minmax().alias("p6")).collect()]
    assert vals == [0, 0, 0]

    # DuckDB twin of the guard expression used in the oracles
    import duckdb

    out = duckdb.sql(
        "SELECT CASE WHEN hi = lo THEN 0 ELSE "
        "FLOOR((s - lo)::DOUBLE / (hi - lo)::DOUBLE * 1e6)::BIGINT END "
        "FROM (SELECT 7 AS s, 7 AS lo, 7 AS hi)"
    ).fetchall()
    assert out == [(0,)]


def test_eval_calibration_bins_all_tied_scores(spark, tmp_path):
    """End-to-end: a fixture where every embedding score ties must run
    (no NaN divergence) and put all mass in bin 0 — on BOTH engines."""
    import duckdb
    import pandas as pd

    from easy_alterator_spark.queries import QUERIES, ORACLES, load_all

    load_all()
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(8)),
            "label": [1, 9, 3, 7, 2, 8, 5, 4],
            "embedding": [[0.5] + [0.0] * 63 for _ in range(8)],
        }
    )
    pdf["embedding"] = pdf["embedding"].apply(
        lambda v: pd.array(v, dtype="float32")
    )
    path = str(tmp_path / "embeddings.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array(range(8), type=pa.int64()),
            "label": pa.array([1, 9, 3, 7, 2, 8, 5, 4], type=pa.int64()),
            "embedding": pa.array(
                [[0.5] + [0.0] * 63] * 8, type=pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(tbl, path)

    rows = QUERIES["eval_calibration_bins"](spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["bin"] == 0 and rows[0]["n"] == 8

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    orows = con.execute(ORACLES["eval_calibration_bins"]).fetchall()
    assert len(orows) == 1 and orows[0][0] == 0 and orows[0][1] == 8


# ---------------------------------------------------------------------------
# graph_triangles hot-user cap semantics
# ---------------------------------------------------------------------------


def test_graph_triangles_pair_build_capped(spark):
    """The co-visitation build must emit at most C(256,2) pairs per
    user no matter how many distinct items a hot user touches. Checked
    on the build SUBPLAN (the capped `ui` set), synthetic bot user
    with 300 distinct items vs an organic user with 3."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        {"user_id": 1, "props": '{"k": "%d"}' % i} for i in range(300)
    ] + [{"user_id": 2, "props": '{"k": "%d"}' % i} for i in range(3)]
    ev = spark.createDataFrame(pd.DataFrame(rows))
    # the exact cap device from queries/featureops.py:graph_triangles
    uic = ev.groupBy(
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    wcap = Window.partitionBy("user_id").orderBy(
        F.col("n_ev").desc(), F.col("item")
    )
    ui = (
        uic.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= 256)
        .select("user_id", "item")
    )
    per_user = {
        r["user_id"]: r["c"]
        for r in ui.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert per_user == {1: 256, 2: 3}
    # and the capped set keeps the MOST-ACTIVE items: give item 299
    # extra events and it must survive the cap while a single-event
    # item is evicted
    rows2 = rows + [{"user_id": 1, "props": '{"k": "299"}'}] * 5
    ev2 = spark.createDataFrame(pd.DataFrame(rows2))
    uic2 = ev2.groupBy(
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    kept = (
        uic2.withColumn("rn", F.row_number().over(wcap))
        .filter((F.col("rn") <= 256) & (F.col("user_id") == 1))
        .select("item")
        .collect()
    )
    assert 299 in {r["item"] for r in kept}


# ---------------------------------------------------------------------------
# global_rank vs a pandas reference rank
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_global_rank_matches_pandas_rank(spark, seed):
    """Property: on randomized numeric inputs with a unique total
    order, global_rank (the pinned repartitionByRange form) produces
    EXACTLY the ranks of a pandas sort over the same rows — including
    skewed and duplicate-heavy first keys, where the tiebreak column
    completes the order."""
    import random

    import pandas as pd

    from easy_alterator_spark.operators.rank import global_rank

    rng = random.Random(seed)
    n = rng.choice([1, 7, 500, 2000])
    # skew regimes: uniform, heavy ties, zipf-ish
    regime = seed % 3
    if regime == 0:
        keys = [rng.uniform(-1e6, 1e6) for _ in range(n)]
    elif regime == 1:
        keys = [float(rng.randint(0, 3)) for _ in range(n)]  # heavy ties
    else:
        keys = [float(int(1 / max(rng.random(), 1e-9))) for _ in range(n)]
    pdf = pd.DataFrame({"k": keys, "tid": range(n)})
    df = spark.createDataFrame(pdf).repartition(8)

    got = {
        (r["k"], r["tid"]): r["r"]
        for r in global_rank(df, ["k", "tid"], "r").collect()
    }
    ref = pdf.sort_values(["k", "tid"]).reset_index(drop=True)
    want = {(k, t): i + 1 for i, (k, t) in enumerate(zip(ref["k"], ref["tid"]))}
    assert got == want


# ---------------------------------------------------------------------------
# events_rolling_7d decomposition equivalence
# ---------------------------------------------------------------------------


def test_rolling_7d_decomposition_equals_naive_frame(spark):
    """The signed-event prefix-sum decomposition must reproduce the
    sliding RANGE frame's semantics exactly (in integer cents) on the
    driver fixture — the naive frame is the SPEC, kept out of the
    registered plan only because Spark re-aggregates sliding frames
    per row (O(n * frame); 33 s on the genu10 hot-user corpus vs ~2 s
    decomposed)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from easy_alterator_spark.queries import QUERIES, load_all
    from easy_alterator_spark.sources import load_table

    load_all()
    got = {
        (r["user_id"], r["event_id"]): r["roll_sum"]
        for r in QUERIES["events_rolling_7d"](spark, SF).collect()
    }
    ev = load_table(spark, SF, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-604800, 0)
    )
    cents = F.coalesce(
        F.floor(F.col("value") * 100 + 0.5).cast("bigint"), F.lit(0)
    )
    want = {
        (r["user_id"], r["event_id"]): r["roll_sum"]
        for r in ev.select(
            "user_id",
            "event_id",
            (F.sum(cents).over(w).cast("double") / 100.0).alias("roll_sum"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_logreg_memo_invalidated_on_fixture_rewrite(spark, tmp_path):
    """ADVICE r9: rewriting a fixture at the SAME path in-process must
    retrain rather than silently reuse weights memoized for the old
    bytes (the _SCHEMA_CACHE st_mtime_ns discipline)."""
    import os
    import time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from easy_alterator_spark.queries import QUERIES, load_all

    load_all()
    path = str(tmp_path / "embeddings.parquet")

    def write(seed):
        rng = np.random.default_rng(seed)
        n = 64
        x = rng.normal(0, 1, size=(n, 64)).astype(np.float32)
        labels = rng.integers(0, 10, size=n).astype(np.int64)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(n), pa.int64()),
                    "embedding": pa.array(
                        [r for r in x], pa.list_(pa.float32())
                    ),
                    "label": pa.array(labels, pa.int64()),
                }
            ),
            path,
        )

    write(1)
    w1 = {
        r["dim"]: r["w8"]
        for r in QUERIES["ml_logreg_gd"](spark, str(tmp_path)).collect()
    }
    # same path, different data; ensure the mtime_ns actually moves
    time.sleep(0.02)
    write(2)
    os.utime(path)
    w2 = {
        r["dim"]: r["w8"]
        for r in QUERIES["ml_logreg_gd"](spark, str(tmp_path)).collect()
    }
    assert w1 != w2, "memo reused stale weights after fixture rewrite"
    # and re-reading the same bytes IS memoized (stable result)
    w3 = {
        r["dim"]: r["w8"]
        for r in QUERIES["ml_logreg_gd"](spark, str(tmp_path)).collect()
    }
    assert w2 == w3
