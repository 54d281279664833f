"""Round-9 model-evaluation and experimental-design extensions:
classifier metrics over a deterministic linear-probe score (ROC-AUC,
calibration, precision/recall curve, lift/gains), the k-group
experiment tests that complete the A/B family (one-way ANOVA,
Kruskal-Wallis, McNemar, a deterministic randomization test, block
jackknife), and iterative ML training expressed as Spark aggregates
(logistic regression by gradient descent, PCA by power iteration).

These are the measurement half of a training-data pipeline: after
dedup/quality/decontamination produce a corpus and a model (or probe)
scores it, these queries answer "is the classifier any good"
(eval_*), "did the intervention change the metric" (stats_*), and
"what directions dominate the embedding space" (embedding_pca_*).

Cross-engine discipline (the repo standard): integer exactness
through every aggregation — scores and values snap to integer grids
BEFORE any sum, so no float accumulation order exists; ratio outputs
are single IEEE divisions of exact integers or short FIXED expression
trees (each op correctly rounded, identical on both engines);
libm-bearing outputs floor-grid at 1e-4 with the +1e-6 nudge. Global
ordered scans (PR curve, deciles) run through operators/rank.py's
terasort decomposition, never a single-reducer window. No UDFs, no
data-sized collect().

The linear-probe score shared by the eval_* family is the FIRST
embedding coordinate snapped to 1e-4 (round-half-up): a deterministic
stand-in for a model score that still correlates with the planted
label structure, so the metric surfaces are non-degenerate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.nonparam import mannwhitney_u
from ..operators.rank import global_ntile, global_prefix_sum
from ..sources import load_table
from . import query

# exact integer score: float32 -> float64 is exact, one IEEE multiply,
# exact +0.5, floor — round-half-up onto a 1e-4 integer grid
_SCORE = "FLOOR(embedding[1]::DOUBLE * 1e4 + 0.5)::BIGINT"
_POS = "CASE WHEN label >= 5 THEN 'pos' ELSE 'neg' END"


def _score() -> F.Column:
    return F.floor(
        F.element_at("embedding", 1).cast("double") * 1e4 + 0.5
    ).cast("bigint")


def _cls() -> F.Column:
    return F.when(F.col("label") >= 5, "pos").otherwise("neg")


def _p6_minmax() -> F.Column:
    """Micro-unit min-max confidence FLOOR((s-lo)/(hi-lo)*1e6) with
    the all-scores-tie guard: when hi = lo the division is 0/0 and
    Spark's non-ANSI FLOOR(NaN)->BIGINT cast (0) diverges from
    DuckDB's (error/NULL), so both engines pin p6 = 0 explicitly —
    the deterministic all-mass-in-bin-0 convention, mirrored by a
    CASE WHEN in every oracle that uses this column."""
    return F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint")).otherwise(
        F.floor(
            (F.col("s") - F.col("lo")).cast("double")
            / (F.col("hi") - F.col("lo")).cast("double")
            * 1e6
        ).cast("bigint")
    )


# ---------------------------------------------------------------------------
# eval_roc_auc — rank-based AUC, integer-exact
# ---------------------------------------------------------------------------

@query(
    "eval_roc_auc",
    # AUC is the Mann-Whitney statistic: with per-distinct-score
    # counts and DOUBLED ranks (tie averages stay integral),
    # 2*R_pos = SUM(c_pos * (2*cumt - t + 1)) is exact int64,
    # u1_x2 = 2*R_pos - n_pos*(n_pos+1), and AUC = u1_x2/(2*n_pos*
    # n_neg) is ONE IEEE division of exact integers; gini = 2*auc - 1
    # is a fixed tree on the identical double
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS score, {_POS} AS cls FROM embeddings),
    g AS (SELECT score,
                 SUM(CASE WHEN cls = 'pos' THEN 1 ELSE 0 END)::BIGINT AS c1,
                 SUM(CASE WHEN cls = 'neg' THEN 1 ELSE 0 END)::BIGINT AS c2
          FROM d GROUP BY score),
    c AS (SELECT c1, c2, c1 + c2 AS t,
                 (SUM(c1 + c2) OVER (ORDER BY score))::BIGINT AS cumt
          FROM g),
    s AS (SELECT SUM(c1)::BIGINT AS n_pos, SUM(c2)::BIGINT AS n_neg,
                 SUM(c1 * (2 * cumt - t + 1))::BIGINT AS r1_x2
          FROM c)
    SELECT n_pos, n_neg,
           (r1_x2 - n_pos * (n_pos + 1))::BIGINT AS u1_x2,
           (r1_x2 - n_pos * (n_pos + 1))::DOUBLE
               / (2 * n_pos * n_neg)::DOUBLE AS auc,
           2 * ((r1_x2 - n_pos * (n_pos + 1))::DOUBLE
                / (2 * n_pos * n_neg)::DOUBLE) - 1 AS gini
    FROM s
    """,
)
def eval_roc_auc(spark, sf_dir):
    """ROC-AUC of the linear-probe score against the planted binary
    label (label >= 5) — the first question asked of any quality /
    toxicity / language classifier before it gates a corpus. AUC is
    computed by its rank form (the Mann-Whitney U statistic), reusing
    operators/nonparam.py's doubled-rank decomposition: per-distinct-
    score counts, a distinct-values-sized global cumsum through
    rank.global_prefix_sum (no single-reducer sort), and exact-int64
    rank sums — AUC is one IEEE division of exact integers,
    bit-identical cross-engine; gini = 2*auc - 1 is a fixed tree on
    that identical double. Scale: the cumsum is score-vocabulary-
    sized, not data-sized; everything else is one hash aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(_score().alias("score"), _cls().alias("cls"))
    r = mannwhitney_u(d, "score", "cls", "pos", "neg")
    auc = F.col("auc")
    return r.select(
        F.col("n1").alias("n_pos"),
        F.col("n2").alias("n_neg"),
        "u1_x2",
        auc,
        (F.lit(2) * auc - F.lit(1)).alias("gini"),
    )


# ---------------------------------------------------------------------------
# eval_calibration_bins — all-integer reliability table
# ---------------------------------------------------------------------------

@query(
    "eval_calibration_bins",
    # min-max normalized probability p = (s - lo)/(hi - lo) (exact-int
    # operands, ONE division -> identical doubles), snapped to MICRO
    # units p6 = FLOOR(p * 1e6) BEFORE any aggregation, so every
    # output is integer arithmetic: bin = p6 // 100000 (int division),
    # per-bin mean confidence FLOOR(SUM(p6)/n), observed rate
    # FLOOR(n_pos*1e6/n), gap = ABS difference of the two BIGINTs.
    # Degenerate guard: when ALL scores tie (hi = lo) the min-max
    # division is 0/0 — Spark's non-ANSI FLOOR(NaN) cast and DuckDB's
    # diverge, so BOTH engines pin p6 = 0 explicitly (all mass in
    # bin 0, the deterministic convention)
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS s,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    mm AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM d),
    p AS (SELECT y,
                 CASE WHEN mm.hi = mm.lo THEN 0
                      ELSE FLOOR((d.s - mm.lo)::DOUBLE
                                 / (mm.hi - mm.lo)::DOUBLE
                                 * 1e6)::BIGINT END AS p6
          FROM d CROSS JOIN mm),
    b AS (SELECT LEAST(p6 // 100000, 9) AS bin, COUNT(*)::BIGINT AS n,
                 SUM(y)::BIGINT AS n_pos, SUM(p6)::BIGINT AS sp6
          FROM p GROUP BY 1)
    SELECT bin, n, n_pos,
           FLOOR(sp6::DOUBLE / n::DOUBLE)::BIGINT AS conf_micro,
           FLOOR((n_pos * 1000000)::DOUBLE / n::DOUBLE)::BIGINT AS rate_micro,
           ABS(FLOOR(sp6::DOUBLE / n::DOUBLE)
               - FLOOR((n_pos * 1000000)::DOUBLE / n::DOUBLE))::BIGINT
               AS gap_micro
    FROM b
    """,
)
def eval_calibration_bins(spark, sf_dir):
    """Reliability (calibration) table of the probe score: min-max
    normalized scores bucketed into 10 equal-WIDTH bins, per-bin mean
    confidence vs observed positive rate and their gap — the table
    behind ECE and reliability diagrams, and the standard check before
    a classifier's threshold is trusted to gate a corpus. All-integer
    outputs: the normalized probability snaps to micro-units (1e-6)
    per row BEFORE aggregation, so sums are exact, the bin index is
    integer division, and both per-bin rates are FLOOR of a single
    int/int division — no float accumulation anywhere. Shape: one
    2-value global min/max broadcast, one hash aggregate over <= 10
    bins; equal-width binning needs no global sort (contrast
    stats_histogram_equidepth's rank decomposition)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        _score().alias("s"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    mm = d.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    p6 = _p6_minmax()
    b = (
        d.crossJoin(F.broadcast(mm))
        .select(p6.alias("p6"), "y")
        .groupBy(
            F.least(F.floor(F.col("p6") / 100000), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum("p6").alias("sp6"),
        )
    )
    conf = F.floor(F.col("sp6").cast("double") / F.col("n").cast("double"))
    rate = F.floor(
        (F.col("n_pos") * 1000000).cast("double") / F.col("n").cast("double")
    )
    return b.select(
        "bin",
        "n",
        "n_pos",
        conf.cast("bigint").alias("conf_micro"),
        rate.cast("bigint").alias("rate_micro"),
        F.abs(conf - rate).cast("bigint").alias("gap_micro"),
    )


# ---------------------------------------------------------------------------
# eval_pr_threshold — full precision/recall sweep, integer-exact
# ---------------------------------------------------------------------------

@query(
    "eval_pr_threshold",
    # tp/fp at every distinct score threshold are DESCENDING prefix
    # sums over the per-distinct-score (c_pos, c_neg) counts;
    # precision/recall are single int/int divisions and f1 uses the
    # harmonic identity f1 = 2*tp/(2*tp + fp + fn) — ONE division of
    # exact integers instead of a float tree over p and r
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS score,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    g AS (SELECT score, SUM(y)::BIGINT AS cp,
                 SUM(1 - y)::BIGINT AS cn
          FROM d GROUP BY score),
    c AS (SELECT score,
                 (SUM(cp) OVER (ORDER BY score DESC))::BIGINT AS tp,
                 (SUM(cn) OVER (ORDER BY score DESC))::BIGINT AS fp
          FROM g),
    t AS (SELECT SUM(cp)::BIGINT AS pos_total FROM g)
    SELECT c.score AS threshold, c.tp, c.fp,
           (t.pos_total - c.tp)::BIGINT AS fn,
           c.tp::DOUBLE / (c.tp + c.fp)::DOUBLE AS precision,
           c.tp::DOUBLE / t.pos_total::DOUBLE AS recall,
           (2 * c.tp)::DOUBLE
               / (2 * c.tp + c.fp + (t.pos_total - c.tp))::DOUBLE AS f1
    FROM c CROSS JOIN t
    """,
)
def eval_pr_threshold(spark, sf_dir):
    """Precision/recall/F1 at EVERY distinct score threshold (predict
    positive when score >= threshold) — the operating-curve table a
    pipeline reads to pick the quality-filter cutoff for a target
    recall. Integer-exact: per-distinct-score class counts, then tp
    and fp as descending prefix sums through rank.global_prefix_sum
    (range partitioning honors the DESC order; no single-reducer
    window), a 1-row positives total broadcast, and each metric is ONE
    IEEE division of exact integers — f1 via the harmonic identity
    2*tp/(2*tp+fp+fn), so no compound float tree exists. Output is
    score-vocabulary-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        _score().alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("cp"),
        F.sum(1 - F.col("y")).cast("bigint").alias("cn"),
    )
    c = global_prefix_sum(
        g, [F.col("score").desc()], ["cp", "cn"], ["tp", "fp"]
    ).select("score", "tp", "fp")
    t = g.agg(F.sum("cp").cast("bigint").alias("pos_total"))
    tp, fp, pt = F.col("tp"), F.col("fp"), F.col("pos_total")
    fn = pt - tp
    return c.crossJoin(F.broadcast(t)).select(
        F.col("score").alias("threshold"),
        tp,
        fp,
        fn.cast("bigint").alias("fn"),
        (tp.cast("double") / (tp + fp).cast("double")).alias("precision"),
        (tp.cast("double") / pt.cast("double")).alias("recall"),
        (
            (2 * tp).cast("double")
            / (2 * tp + fp + fn).cast("double")
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# eval_lift_cumgains — decile lift table via the rank decomposition
# ---------------------------------------------------------------------------

@query(
    "eval_lift_cumgains",
    # deciles by (score DESC, vec_id) through rank.global_ntile —
    # bit-identical to SQL NTILE(10) under the same TOTAL order — then
    # a 10-row cumulative table; lift = (n_pos*N)/(n*P) and
    # gain = cum_pos/P are single divisions of exact int products
    oracle=f"""
    WITH d AS (SELECT vec_id, {_SCORE} AS score,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    t AS (SELECT y, NTILE(10) OVER (ORDER BY score DESC, vec_id) AS tile
          FROM d),
    b AS (SELECT tile, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS n_pos
          FROM t GROUP BY tile),
    c AS (SELECT tile, n, n_pos,
                 (SUM(n_pos) OVER (ORDER BY tile))::BIGINT AS cum_pos
          FROM b),
    s AS (SELECT SUM(n)::BIGINT AS nn, SUM(n_pos)::BIGINT AS pp FROM b)
    SELECT c.tile, c.n, c.n_pos, c.cum_pos,
           c.cum_pos::DOUBLE / s.pp::DOUBLE AS gain,
           (c.n_pos * s.nn)::DOUBLE / (c.n * s.pp)::DOUBLE AS lift
    FROM c CROSS JOIN s
    """,
)
def eval_lift_cumgains(spark, sf_dir):
    """Decile lift and cumulative-gains table of the probe score: rank
    the population by score descending, cut into 10 equal-count tiles,
    and report each tile's positive rate as lift over the base rate
    plus the cumulative share of positives captured — the table behind
    'the top 10% of the ranking captures X% of the positives', i.e.
    how much labeling / filtering budget the score saves. The decile
    cut runs through rank.global_ntile (terasort decomposition,
    bit-identical to NTILE(10) under the total order (score DESC,
    vec_id) — no single-reducer sort of the data); the only global
    window left is the cumulative sum over the TEN-row decile table.
    lift and gain are single IEEE divisions of exact integer
    products."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        _score().alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    t = global_ntile(d, [F.col("score").desc(), F.col("vec_id")], 10, "tile")
    b = t.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    # ten-row decile table: the global window is dimension-grained
    w = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    c = b.withColumn("cum_pos", F.sum("n_pos").over(w).cast("bigint"))
    s = b.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_pos").cast("bigint").alias("pp"),
    )
    return c.crossJoin(F.broadcast(s)).select(
        "tile",
        "n",
        "n_pos",
        "cum_pos",
        (F.col("cum_pos").cast("double") / F.col("pp").cast("double")).alias(
            "gain"
        ),
        (
            (F.col("n_pos") * F.col("nn")).cast("double")
            / (F.col("n") * F.col("pp")).cast("double")
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# experimental-design stats: the k-group / paired / resampling tests
# that complete the two-sample A/B family (Welch, KS, MWU, SRM,
# Brown-Forsythe) in queries/analytics.py and featureops.py
# ---------------------------------------------------------------------------

_CENTS = 'FLOOR("value" * 100 + 0.5)::BIGINT'


def _cents(col: str = "value") -> F.Column:
    return F.floor(F.col(col) * 100 + 0.5).cast("bigint")


@query(
    "stats_anova_f",
    # one-way ANOVA from exact per-group integer sums (n, S1, S2 of
    # cents, all int64 at these magnitudes): each squared-sum term
    # FLOOR(S1g^2 / ng) is one double product + one division + floor —
    # identical on both engines — and SSB/SSW are then exact BIGINT
    # differences; F is a fixed tree of two int products and one
    # division, floor-gridded at 1e-4 defensively
    oracle=f"""
    WITH c AS (SELECT event_type, {_CENTS} AS c FROM events
               WHERE "value" IS NOT NULL),
    g AS (SELECT event_type, COUNT(*)::BIGINT AS ng,
                 SUM(c)::BIGINT AS s1, SUM(c * c)::BIGINT AS s2
          FROM c GROUP BY event_type),
    t AS (SELECT event_type, ng, s1, s2,
                 FLOOR(s1::DOUBLE * s1::DOUBLE / ng::DOUBLE)::BIGINT AS term
          FROM g),
    a AS (SELECT COUNT(*)::BIGINT AS k, SUM(ng)::BIGINT AS n,
                 SUM(s1)::BIGINT AS ts1, SUM(s2)::BIGINT AS ts2,
                 SUM(term)::BIGINT AS tt
          FROM t)
    SELECT k AS k_groups, n, (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2,
           (tt - FLOOR(ts1::DOUBLE * ts1::DOUBLE / n::DOUBLE))::BIGINT AS ssb,
           (ts2 - tt)::BIGINT AS ssw,
           FLOOR((tt - FLOOR(ts1::DOUBLE * ts1::DOUBLE / n::DOUBLE))::DOUBLE
                 * (n - k)::DOUBLE
                 / ((ts2 - tt)::DOUBLE * (k - 1)::DOUBLE) * 1e4 + 1e-6)
               / 1e4 AS f_stat
    FROM a
    """,
)
def stats_anova_f(spark, sf_dir):
    """One-way ANOVA F across ALL event types' value distributions —
    the k-group mean-equality test that generalizes stats_welch_ttest
    when an experiment has more than two arms. Integer-exact: values
    snap to cents; per-group (n, S1, S2) fold in int64; each
    between-group term FLOOR(S1g^2/ng) is a single double product +
    division + floor (identical cross-engine), making SSB and SSW
    exact BIGINTs; F = (SSB*(N-k)) / (SSW*(k-1)) is a fixed IEEE tree,
    gridded defensively. Shape: ONE map-side-partial hash aggregate to
    k rows, then a k-row reduction — the cheapest distributed shape,
    unchanged at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("value").isNotNull()).select(
        "event_type", _cents().alias("c")
    )
    g = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    term = F.floor(
        F.col("s1").cast("double")
        * F.col("s1").cast("double")
        / F.col("ng").cast("double")
    ).cast("bigint")
    a = g.select("ng", "s1", "s2", term.alias("term")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
        F.sum("term").alias("tt"),
    )
    k, n = F.col("k"), F.col("n")
    gm = F.floor(
        F.col("ts1").cast("double")
        * F.col("ts1").cast("double")
        / n.cast("double")
    )
    ssb = (F.col("tt") - gm).cast("bigint")
    ssw = (F.col("ts2") - F.col("tt")).cast("bigint")
    return a.select(
        k.alias("k_groups"),
        n,
        (k - 1).cast("bigint").alias("df1"),
        (n - k).cast("bigint").alias("df2"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        (
            F.floor(
                ssb.cast("double")
                * (n - k).cast("double")
                / (ssw.cast("double") * (k - 1).cast("double"))
                * 1e4
                + 1e-6
            )
            / 1e4
        ).alias("f_stat"),
    )


@query(
    "stats_kruskal_wallis",
    # k-group rank test with average-rank ties, integer-exact via the
    # DOUBLED-rank device (stats_mannwhitney): per-group doubled rank
    # sums 2*Rg = SUM(cg * (2*cumt - t + 1)) are exact int64; each
    # term FLOOR((2Rg)^2 / ng) is one double product + division +
    # floor; H = 3*S/(N(N+1)) - 3(N+1) on the resulting exact integer
    # S (the /4 from un-doubling cancels into the 12 -> 3), and the
    # tie correction 1 - SUM(t^3 - t)/(N^3 - N) is exact-int operands
    oracle=f"""
    WITH c AS (SELECT event_type, {_CENTS} AS v FROM events
               WHERE "value" IS NOT NULL),
    vc AS (SELECT v, event_type, COUNT(*)::BIGINT AS cnt
           FROM c GROUP BY v, event_type),
    vt AS (SELECT v, SUM(cnt)::BIGINT AS t FROM vc GROUP BY v),
    ct AS (SELECT v, t, (SUM(t) OVER (ORDER BY v))::BIGINT AS cumt FROM vt),
    rg AS (SELECT vc.event_type,
                  SUM(vc.cnt * (2 * ct.cumt - ct.t + 1))::BIGINT AS r2,
                  SUM(vc.cnt)::BIGINT AS ng
           FROM vc JOIN ct ON vc.v = ct.v GROUP BY vc.event_type),
    s AS (SELECT COUNT(*)::BIGINT AS k, SUM(ng)::BIGINT AS n,
                 SUM(FLOOR(r2::DOUBLE * r2::DOUBLE / ng::DOUBLE)::BIGINT)
                     ::BIGINT AS s4
          FROM rg),
    tie AS (SELECT SUM(t * t * t - t)::BIGINT AS tsum FROM vt)
    SELECT s.k AS k_groups, s.n,
           FLOOR((3 * s.s4::DOUBLE / (s.n::DOUBLE * (s.n + 1)::DOUBLE)
                  - 3 * (s.n + 1)::DOUBLE) * 1e4 + 1e-6) / 1e4 AS h_stat,
           FLOOR((3 * s.s4::DOUBLE / (s.n::DOUBLE * (s.n + 1)::DOUBLE)
                  - 3 * (s.n + 1)::DOUBLE)
                 / (1 - tie.tsum::DOUBLE
                        / (s.n::DOUBLE * s.n::DOUBLE * s.n::DOUBLE
                           - s.n::DOUBLE)) * 1e4 + 1e-6) / 1e4 AS h_adj
    FROM s CROSS JOIN tie
    """,
)
def stats_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across ALL event types — the k-group
    nonparametric rank test that extends stats_mannwhitney beyond two
    arms (the distribution-free twin of stats_anova_f), with textbook
    average-rank ties and tie correction. Integer-exact end to end:
    doubled rank sums stay int64 (a tie group of size t ending at
    cumulative position cumt holds ranks averaging (2*cumt - t + 1)/2),
    the un-doubling /4 cancels into H's 12/... coefficient, each
    per-group squared term is one double product + division + floor,
    and the tie correction's operands are exact integers. Shape: hash
    aggregate to per-(value, group) counts, ONE distinct-values-sized
    global cumsum through rank.global_prefix_sum (never a
    single-reducer window), k-row reduction."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("value").isNotNull()).select(
        "event_type", _cents().alias("v")
    )
    vc = c.groupBy("v", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vt = vc.groupBy("v").agg(F.sum("cnt").alias("t"))
    ct = global_prefix_sum(vt, ["v"], "t", "cumt")
    rg = (
        vc.join(ct, "v")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("cnt") * (2 * F.col("cumt") - F.col("t") + 1)
            ).alias("r2"),
            F.sum("cnt").alias("ng"),
        )
    )
    term = F.floor(
        F.col("r2").cast("double")
        * F.col("r2").cast("double")
        / F.col("ng").cast("double")
    ).cast("bigint")
    s = rg.select("ng", term.alias("term")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("term").alias("s4"),
    )
    tie = vt.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
            "tsum"
        )
    )
    nd = F.col("n").cast("double")
    h = (
        F.lit(3) * F.col("s4").cast("double") / (nd * (F.col("n") + 1).cast("double"))
        - F.lit(3) * (F.col("n") + 1).cast("double")
    )
    corr = F.lit(1) - F.col("tsum").cast("double") / (nd * nd * nd - nd)
    return s.crossJoin(F.broadcast(tie)).select(
        F.col("k").alias("k_groups"),
        "n",
        (F.floor(h * 1e4 + 1e-6) / 1e4).alias("h_stat"),
        (F.floor(h / corr * 1e4 + 1e-6) / 1e4).alias("h_adj"),
    )


@query(
    "stats_mcnemar",
    # before/after paired design per user: "made a big-ticket
    # purchase (value > 200)" in the first vs second half of the
    # observation window, split at the exact integer midpoint of
    # epoch-MICROS (so the split is identical cross-engine; a raw
    # timestamp midpoint would hit engine-specific interval
    # semantics). McNemar's chi-square with continuity correction is
    # pure integer arithmetic over the two discordant-cell counts
    # plus ONE IEEE division
    oracle="""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us,
                      (CASE WHEN event_type = 'purchase'
                                 AND "value" > 200 THEN 1 ELSE 0 END) AS big
               FROM events),
    mm AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM t),
    u AS (SELECT user_id,
                 MAX(CASE WHEN big = 1 AND us < mm.mid THEN 1 ELSE 0 END)
                     AS a,
                 MAX(CASE WHEN big = 1 AND us >= mm.mid THEN 1 ELSE 0 END)
                     AS b
          FROM t CROSS JOIN mm GROUP BY user_id),
    s AS (SELECT COUNT(*)::BIGINT AS n_users,
                 SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)::BIGINT
                     AS n_before_only,
                 SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)::BIGINT
                     AS n_after_only
          FROM u)
    SELECT n_users, n_before_only, n_after_only,
           CASE WHEN n_before_only + n_after_only = 0 THEN NULL
                ELSE ((ABS(n_before_only - n_after_only) - 1)
                      * (ABS(n_before_only - n_after_only) - 1))::DOUBLE
                     / (n_before_only + n_after_only)::DOUBLE
           END AS chi2_mcnemar
    FROM s
    """,
)
def stats_mcnemar(spark, sf_dir):
    """McNemar's test on a paired before/after design — per user, did
    they make a big-ticket purchase (value > 200) in the first vs the
    second half of the observation window — the within-subject test
    for marginal-proportion change (the paired counterpart of
    stats_chi_square: same subjects on both sides, so only the
    DISCORDANT users carry information). The window splits at the
    exact integer midpoint of epoch-micros (one 1-row min/max
    broadcast; integer halving is identical cross-engine, unlike raw
    timestamp-interval midpoints); the statistic (|b - c| - 1)^2 /
    (b + c) with continuity correction is exact integer arithmetic
    plus one IEEE division, NULL-gated when no discordant pairs
    exist. Shape: one user-keyed hash aggregate to per-user flags,
    one global reduction to a single row."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 200), 1
        )
        .otherwise(0)
        .alias("big"),
    )
    # exact integer midpoint: epoch-micros sums exceed 2^53, so a
    # double `/` would round differently than DuckDB's exact `//`;
    # integer `div` on positive longs is floor division on both
    mm = t.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        F.expr("(mn + mx) div 2").cast("bigint").alias("mid")
    )
    u = (
        t.crossJoin(F.broadcast(mm))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("big") == 1) & (F.col("us") < F.col("mid")), 1)
                .otherwise(0)
            ).alias("a"),
            F.max(
                F.when(
                    (F.col("big") == 1) & (F.col("us") >= F.col("mid")), 1
                ).otherwise(0)
            ).alias("b"),
        )
    )
    s = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_before_only"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_after_only"),
    )
    b, c = F.col("n_before_only"), F.col("n_after_only")
    d = F.abs(b - c) - 1
    return s.select(
        "n_users",
        "n_before_only",
        "n_after_only",
        F.when(b + c == 0, F.lit(None).cast("double"))
        .otherwise((d * d).cast("double") / (b + c).cast("double"))
        .alias("chi2_mcnemar"),
    )


def _perm_oracle() -> str:
    from ._xxh64_sql import xxh64_long2_ctes

    return f"""
    WITH b AS (SELECT event_id, {_CENTS} AS c,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                          AS ia
               FROM events
               WHERE event_type IN ('purchase', 'view')
                 AND "value" IS NOT NULL),
    obs AS (SELECT SUM(CASE WHEN ia = 1 THEN c ELSE 0 END)::BIGINT AS sa,
                   SUM(ia)::BIGINT AS na,
                   SUM(CASE WHEN ia = 0 THEN c ELSE 0 END)::BIGINT AS sb,
                   SUM(1 - ia)::BIGINT AS nb
            FROM b),
    src AS (SELECT b.event_id AS la, r.k::BIGINT AS lb, b.c
            FROM b CROSS JOIN range(64) r(k)),
    {xxh64_long2_ctes('src')},
    rep AS (SELECT lb,
                   SUM(CASE WHEN h % 2 = 0 THEN c ELSE 0 END)::BIGINT AS sa,
                   SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
                   SUM(CASE WHEN h % 2 = 1 THEN c ELSE 0 END)::BIGINT AS sb,
                   SUM(CASE WHEN h % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS nb
            FROM pf GROUP BY lb),
    d AS (SELECT sa::DOUBLE / na::DOUBLE - sb::DOUBLE / nb::DOUBLE AS dk
          FROM rep),
    e AS (SELECT COUNT(*)::BIGINT AS k_reps,
                 SUM(CASE WHEN ABS(d.dk) >=
                          ABS(o.sa::DOUBLE / o.na::DOUBLE
                              - o.sb::DOUBLE / o.nb::DOUBLE)
                          THEN 1 ELSE 0 END)::BIGINT AS n_extreme
          FROM d CROSS JOIN obs o)
    SELECT o.na AS n_a, o.nb AS n_b,
           o.sa::DOUBLE / o.na::DOUBLE - o.sb::DOUBLE / o.nb::DOUBLE
               AS d_obs,
           e.k_reps, e.n_extreme,
           (1 + e.n_extreme)::DOUBLE / (1 + e.k_reps)::DOUBLE AS p_value
    FROM obs o CROSS JOIN e
    """


@query(
    "stats_permutation_test",
    # deterministic randomization test: 64 pseudo-random relabelings
    # of the purchase-vs-view rows, each assignment the LOW BIT of
    # Spark xxhash64(event_id, replicate) — replayed bit-for-bit in
    # DuckDB by the generated XXH64 arithmetic (_xxh64_sql.
    # xxh64_long2_ctes) — so both engines see the IDENTICAL 64
    # relabelings; every per-replicate sum is exact int64 cents and
    # each mean difference a fixed two-division tree
    oracle=_perm_oracle(),
)
def stats_permutation_test(spark, sf_dir):
    """Randomization (approximate permutation) test for the
    purchase-vs-view mean difference: 64 deterministic pseudo-random
    relabelings of the pooled rows, p = (1 + #{|d_k| >= |d_obs|}) /
    (1 + 64) — the assumption-free significance check that backs up
    stats_welch_ttest when normality is doubtful, with Bernoulli(1/2)
    reassignment (the standard large-n Monte-Carlo surrogate for
    exact label permutation). Determinism device: the k-th relabeling
    of a row is bit0 of xxhash64(event_id, k) — JVM-native on the
    Spark side, replayed exactly in DuckDB by the generated int128
    XXH64 arithmetic (the dedup_simhash oracle device, extended to
    two long words). Every per-replicate aggregate is exact integer
    cents; mean diffs are fixed two-division trees, so the >= 
    comparisons are of identical doubles. Shape: ONE map-side-partial
    hash aggregate over a 64x row explosion (no shuffle growth — 64
    replicate keys), a 1-row observed broadcast, a 64-row
    reduction."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    ).select(
        "event_id",
        _cents().alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
    )
    obs = b.agg(
        F.sum(F.when(F.col("ia") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum("ia").cast("bigint").alias("na"),
        F.sum(F.when(F.col("ia") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(1 - F.col("ia")).cast("bigint").alias("nb"),
    )
    rep = b.select(
        "event_id",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("k"),
    ).withColumn(
        "g",
        F.pmod(
            F.xxhash64(F.col("event_id"), F.col("k").cast("long")), F.lit(2)
        ),
    )
    per = rep.groupBy("k").agg(
        F.sum(F.when(F.col("g") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    dk = F.col("sa").cast("double") / F.col("na").cast("double") - F.col(
        "sb"
    ).cast("double") / F.col("nb").cast("double")
    d_obs = dk  # same tree, evaluated over the obs row's columns
    e = (
        per.select(dk.alias("dk"))
        .crossJoin(F.broadcast(obs.select(d_obs.alias("d_obs"))))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_reps"),
            F.sum(
                F.when(F.abs(F.col("dk")) >= F.abs(F.col("d_obs")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
    )
    return (
        obs.select("na", "nb", d_obs.alias("d_obs"))
        .crossJoin(F.broadcast(e))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "d_obs",
            "k_reps",
            "n_extreme",
            (
                (1 + F.col("n_extreme")).cast("double")
                / (1 + F.col("k_reps")).cast("double")
            ).alias("p_value"),
        )
    )


@query(
    "stats_jackknife_mean",
    # delete-one-BLOCK jackknife over 32 deterministic blocks
    # (event_id % 32): each leave-one-out mean is ONE division of
    # exact int64 sums, snapped to nano-units t9 = FLOOR(theta*1e9)
    # BEFORE the variance pass, so deviations dev = B*t9 - SUM(t9)
    # are exact integers (squared in int128/DECIMAL(38)) and the SE
    # is a fixed sqrt tree over one exact sum, floor-gridded at 1e-4
    oracle=f"""
    WITH b AS (SELECT event_id % 32 AS bid, {_CENTS} AS c FROM events
               WHERE "value" IS NOT NULL),
    blk AS (SELECT bid, COUNT(*)::BIGINT AS nb, SUM(c)::BIGINT AS sb
            FROM b GROUP BY bid),
    tot AS (SELECT SUM(nb)::BIGINT AS n, SUM(sb)::BIGINT AS s,
                   COUNT(*)::BIGINT AS nblk
            FROM blk),
    loo AS (SELECT FLOOR((t.s - k.sb)::DOUBLE / (t.n - k.nb)::DOUBLE
                         * 1e9)::BIGINT AS t9
            FROM blk k CROSS JOIN tot t),
    m AS (SELECT SUM(t9)::BIGINT AS st9, COUNT(*)::BIGINT AS bb FROM loo),
    d AS (SELECT SUM(((m.bb * l.t9 - m.st9)::HUGEINT
                      * (m.bb * l.t9 - m.st9)::HUGEINT)) AS ssq,
                 MAX(m.bb) AS bb
          FROM loo l CROSS JOIN m)
    SELECT t.n, d.bb AS n_blocks,
           t.s::DOUBLE / t.n::DOUBLE AS mean_cents,
           FLOOR(SQRT(d.ssq::DOUBLE * (d.bb - 1)::DOUBLE
                      / (d.bb * d.bb * d.bb)::DOUBLE)
                 / 1e9 * 1e4 + 1e-6) / 1e4 AS se_jack
    FROM tot t CROSS JOIN d
    """,
)
def stats_jackknife_mean(spark, sf_dir):
    """Block-jackknife standard error of the mean event value — the
    resampling-free variance estimate a pipeline attaches to any
    corpus-level metric (mean quality score, dedup rate) without a
    second pass over raw data: rows hash into 32 deterministic blocks
    (event_id % 32), each leave-one-block-out mean is one division of
    exact integer sums, and se = sqrt((B-1)/B * SUM((theta_b -
    theta_bar)^2)). Exactness: LOO means snap to nano-units BEFORE
    the variance pass, deviations dev = B*t9 - SUM(t9) are exact
    integers (no mean subtraction in float), their squares fold in
    DECIMAL(38)/int128, and the final sqrt tree is fixed-order,
    gridded at 1e-4. Shape: one 32-row hash aggregate, everything
    after is block-count-sized — the delete-d jackknife shape that
    scales to any N."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.filter(F.col("value").isNotNull()).select(
        (F.col("event_id") % 32).alias("bid"), _cents().alias("c")
    )
    blk = b.groupBy("bid").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("c").alias("sb")
    )
    tot = blk.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("sb").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("nblk"),
    )
    loo = blk.crossJoin(F.broadcast(tot)).select(
        F.floor(
            (F.col("s") - F.col("sb")).cast("double")
            / (F.col("n") - F.col("nb")).cast("double")
            * 1e9
        )
        .cast("bigint")
        .alias("t9")
    )
    m = loo.agg(
        F.sum("t9").cast("bigint").alias("st9"),
        F.count(F.lit(1)).cast("bigint").alias("bb"),
    )
    dev = (F.col("bb") * F.col("t9") - F.col("st9")).cast("decimal(38,0)")
    d = (
        loo.crossJoin(F.broadcast(m))
        .agg(
            F.sum(dev * dev).alias("ssq"),
            F.max("bb").alias("bb"),
        )
    )
    return tot.crossJoin(F.broadcast(d)).select(
        "n",
        F.col("bb").alias("n_blocks"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
        (
            F.floor(
                F.sqrt(
                    F.col("ssq").cast("double")
                    * (F.col("bb") - 1).cast("double")
                    / (F.col("bb") * F.col("bb") * F.col("bb")).cast(
                        "double"
                    )
                )
                / 1e9
                * 1e4
                + 1e-6
            )
            / 1e4
        ).alias("se_jack"),
    )


# ---------------------------------------------------------------------------
# iterative ML: logistic regression by full-batch gradient descent
# ---------------------------------------------------------------------------

# Cross-engine determinism of the ITERATION (the hard part — float
# error in epoch e feeds epoch e+1):
#   - features snap once to 1e-4 integers x4 (round-half-up);
#   - each per-dimension product snaps to an integer BEFORE the dot
#     product: z8 = SUM_i FLOOR(w_i * x4_i * 1e4) — exact int64, so
#     no accumulation order exists and z = z8/1e8 is the identical
#     double on both engines;
#   - the only libm call, sigma = 1/(1+exp(-z)), snaps to micro-units
#     sigma6 = FLOOR(1e6 * sigma + 1e-4) (the +1e-4 nudge dwarfs
#     cross-libm 1-ulp noise at the 1e6 scale);
#   - residuals r6 = sigma6 - y*1e6 and the gradient
#     g10_d = SUM(r6 * x4_d) are then exact int64;
#   - the update w' = w - 0.5 * (g10 / (n*1e10)) is a fixed IEEE tree
#     (0.5 is a power of two), so the new weights are bit-identical
#     and the loop closes exactly.
_LOGREG_EPOCHS = 3
_LOGREG_DIMS = 64


def _logreg_oracle_ctes() -> str:
    """The 3-epoch gradient-descent replay as a DuckDB CTE chain;
    final CTE ``w3(dim, w)``."""
    parts = [
        """v AS (SELECT vec_id, CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
                 list_transform(embedding,
                                x -> FLOOR(x::DOUBLE * 1e4 + 0.5)::BIGINT)
                     AS x4
          FROM embeddings)""",
        "nn AS (SELECT COUNT(*)::BIGINT AS n FROM v)",
        f"""w0 AS (SELECT unnest(range({_LOGREG_DIMS}))::BIGINT AS dim,
                  0.0::DOUBLE AS w)""",
    ]
    for e in range(1, _LOGREG_EPOCHS + 1):
        wp, wn = f"w{e - 1}", f"w{e}"
        parts.append(f"""z{e} AS (
          SELECT t.vec_id, SUM(FLOOR({wp}.w * t.xv * 1e4)::BIGINT)::BIGINT
                     AS z8
          FROM (SELECT vec_id, unnest(x4) AS xv,
                       unnest(range(len(x4)))::BIGINT AS dim FROM v) t
          JOIN {wp} USING (dim) GROUP BY t.vec_id)""")
        parts.append(f"""s{e} AS (
          SELECT v.vec_id, v.y, v.x4,
                 FLOOR(1e6 / (1 + exp(-(z{e}.z8::DOUBLE / 1e8))) + 1e-4)
                     ::BIGINT AS s6
          FROM v JOIN z{e} USING (vec_id))""")
        parts.append(f"""g{e} AS (
          SELECT dim, SUM((s6 - y * 1000000) * xv)::BIGINT AS g10
          FROM (SELECT s6, y, unnest(x4) AS xv,
                       unnest(range(len(x4)))::BIGINT AS dim FROM s{e}) t
          GROUP BY dim)""")
        parts.append(f"""{wn} AS (
          SELECT {wp}.dim,
                 {wp}.w - 0.5 * (g{e}.g10::DOUBLE
                                 / (nn.n * 10000000000)::DOUBLE) AS w
          FROM {wp} JOIN g{e} USING (dim) CROSS JOIN nn)""")
    return ",\n    ".join(parts)


def _logreg_xy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    x4 = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1e4 + 0.5).cast("long"),
    )
    return emb.select(
        "vec_id",
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
        x4.alias("x4"),
    )


def _logreg_grad(xy, w):
    """One epoch's exact-integer gradient: 64 rows (dim, g10)."""
    warr = F.array(*[F.lit(float(wi)) for wi in w])
    prod = F.zip_with(
        warr,
        F.col("x4"),
        lambda a, b: F.floor(a * b.cast("double") * 1e4).cast("long"),
    )
    z8 = F.aggregate(
        prod, F.lit(0).cast("long"), lambda acc, vv: acc + vv
    )
    z = z8.cast("double") / F.lit(1e8)
    s6 = F.floor(
        F.lit(1e6) / (F.lit(1.0) + F.exp(-z)) + F.lit(1e-4)
    ).cast("long")
    r6 = (s6 - F.col("y") * 1000000).alias("r6")
    g = xy.select(r6, F.posexplode("x4").alias("dim", "xv"))
    return g.groupBy("dim").agg(
        F.sum(F.col("r6") * F.col("xv")).cast("bigint").alias("g10")
    )


def _logreg_weights(spark, sf_dir):
    """Run E-1 epochs driver-side (dimension-sized 64-row collects,
    the graph_pagerank/cluster_kmeans discipline — never data-sized),
    returning (w_prev list, n, xy) so the caller can express the
    FINAL epoch as a distributed plan. Each call trains afresh: no
    weights carry from one query run to the next."""
    xy = _logreg_xy(spark, sf_dir).localCheckpoint(eager=True)
    n = xy.count()
    w = [0.0] * _LOGREG_DIMS
    for _ in range(_LOGREG_EPOCHS - 1):
        grad = {r["dim"]: r["g10"] for r in _logreg_grad(xy, w).collect()}
        # the same fixed IEEE tree as the oracle's update CTE:
        # Python floats ARE IEEE doubles, each op correctly rounded
        w = [
            w[d] - 0.5 * (float(grad.get(d, 0)) / float(n * 10000000000))
            for d in range(_LOGREG_DIMS)
        ]
    return w, n, xy


@query(
    "ml_logreg_gd",
    oracle=f"""
    WITH {_logreg_oracle_ctes()}
    SELECT dim, FLOOR(w * 1e8)::BIGINT AS w8
    FROM w{_LOGREG_EPOCHS}
    """,
)
def ml_logreg_gd(spark, sf_dir):
    """Logistic regression trained by 3 full-batch gradient-descent
    epochs on the embedding features vs the planted binary label —
    the quality-classifier training loop every corpus pipeline runs
    (fastText-style linear probe), expressed as Spark aggregates: one
    exact-integer dot product per row (zip_with + integer fold), one
    posexplode hash-aggregate per epoch for the gradient, and
    dimension-sized (64-row) driver collects between epochs — the
    graph_pagerank / cluster_kmeans iterative discipline, never
    data-sized. The iteration is bit-identical cross-engine (see the
    module device comment: per-dim product snapping kills float
    accumulation order; sigmoid snaps to micro-units; updates are
    fixed IEEE trees), so the output weights match the DuckDB
    3-epoch replay EXACTLY with no grid slack. At 100 TB each epoch
    is one map-side-partial aggregate over n rows x 64 dims; weights
    broadcast as literals."""
    w, n, xy = _logreg_weights(spark, sf_dir)
    grad = _logreg_grad(xy, w)
    wdf = spark.createDataFrame(
        [(d, w[d]) for d in range(_LOGREG_DIMS)], "dim int, w double"
    )
    nn = xy.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        grad.join(F.broadcast(wdf), "dim")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.floor(
                (
                    F.col("w")
                    - F.lit(0.5)
                    * (
                        F.col("g10").cast("double")
                        / (F.col("n") * 10000000000).cast("double")
                    )
                )
                * 1e8
            )
            .cast("bigint")
            .alias("w8"),
        )
    )


@query(
    "ml_logreg_eval",
    # scoring needs NO sigmoid: sigma(z) >= 0.5 iff z >= 0, and z8 is
    # an exact integer — prediction is an integer sign test, so the
    # confusion matrix is exact and accuracy one IEEE division
    oracle=f"""
    WITH {_logreg_oracle_ctes()},
    sc AS (SELECT t.vec_id,
                  SUM(FLOOR(w{_LOGREG_EPOCHS}.w * t.xv * 1e4)::BIGINT)
                      ::BIGINT AS z8
           FROM (SELECT vec_id, unnest(x4) AS xv,
                        unnest(range(len(x4)))::BIGINT AS dim FROM v) t
           JOIN w{_LOGREG_EPOCHS} USING (dim) GROUP BY t.vec_id),
    cm AS (SELECT CASE WHEN sc.z8 >= 0 THEN 1 ELSE 0 END AS pred, v.y
           FROM sc JOIN v USING (vec_id))
    SELECT SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
           SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
           SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
           SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
           SUM(CASE WHEN pred = y THEN 1 ELSE 0 END)::DOUBLE
               / COUNT(*)::DOUBLE AS accuracy
    FROM cm
    """,
)
def ml_logreg_eval(spark, sf_dir):
    """Confusion matrix and training accuracy of the 3-epoch logistic
    probe (ml_logreg_gd's weights applied back to the corpus) — the
    fit check before a trained filter gates anything. Prediction
    avoids the sigmoid entirely: sigma(z) >= 1/2 iff z >= 0 and the
    snapped dot product z8 is an exact integer, so the confusion
    counts are integer-exact and accuracy is one IEEE division.
    Same scale shape as training: one broadcast-weights scoring
    aggregate over the corpus, one 4-cell reduction."""
    w, n, xy = _logreg_weights(spark, sf_dir)
    # final-epoch weights, driver-side (the same fixed IEEE tree)
    grad = {r["dim"]: r["g10"] for r in _logreg_grad(xy, w).collect()}
    w = [
        w[d] - 0.5 * (float(grad.get(d, 0)) / float(n * 10000000000))
        for d in range(_LOGREG_DIMS)
    ]
    warr = F.array(*[F.lit(float(wi)) for wi in w])
    prod = F.zip_with(
        warr,
        F.col("x4"),
        lambda a, b: F.floor(a * b.cast("double") * 1e4).cast("long"),
    )
    z8 = F.aggregate(prod, F.lit(0).cast("long"), lambda acc, vv: acc + vv)
    cm = xy.select(
        F.when(z8 >= 0, 1).otherwise(0).alias("pred"), "y"
    )
    return cm.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        (
            F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# iterative linear algebra: dominant covariance direction by power
# iteration
# ---------------------------------------------------------------------------

_POWER_ITERS = 8


def _pca_oracle() -> str:
    # Every CTE is MATERIALIZED (r12): DuckDB inlines single-reference
    # CTEs, and u{s}/v{s} are each referenced twice, so the un-hinted
    # unrolled chain re-evaluates the whole upstream tree per
    # reference — 2^8 re-evaluations of the n*d^2 moment explode
    # (measured 67.3 s at sf0.001; 0.19 s materialized, results
    # bit-identical — the hint changes evaluation strategy only).
    head = """v AS MATERIALIZED (SELECT vec_id,
                      list_transform(embedding,
                                     x -> FLOOR(x::DOUBLE * 1e4 + 0.5)
                                          ::BIGINT) AS x4
               FROM embeddings),
    e1 AS MATERIALIZED (SELECT unnest(x4) AS xi,
                  unnest(range(len(x4)))::BIGINT AS i, x4 FROM v),
    e2 AS MATERIALIZED (SELECT i, xi, unnest(x4) AS xj,
                  unnest(range(len(x4)))::BIGINT AS j FROM e1),
    m8 AS MATERIALIZED (SELECT i, j, SUM(xi * xj)::BIGINT AS s FROM e2 GROUP BY i, j),
    mu AS MATERIALIZED (SELECT i, SUM(xi)::BIGINT AS m FROM e1 GROUP BY i),
    nn AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n FROM v),
    cm AS MATERIALIZED (SELECT m8.i, m8.j,
                  (nn.n::HUGEINT * m8.s::HUGEINT
                   - a.m::HUGEINT * b.m::HUGEINT) AS c
           FROM m8 JOIN mu a ON a.i = m8.i JOIN mu b ON b.i = m8.j
           CROSS JOIN nn),
    tr AS MATERIALIZED (SELECT SUM(c) AS t FROM cm WHERE i = j),
    v0 AS MATERIALIZED (SELECT unnest(range(64))::BIGINT AS dim, 0.125::DOUBLE AS vv)"""
    steps = []
    for s in range(1, _POWER_ITERS + 1):
        steps.append(f"""u{s} AS MATERIALIZED (SELECT cm.i AS dim,
                  SUM(FLOOR(cm.c::DOUBLE * v{s - 1}.vv)::BIGINT)::BIGINT AS u
           FROM cm JOIN v{s - 1} ON v{s - 1}.dim = cm.j GROUP BY cm.i)""")
        steps.append(
            f"n{s} AS MATERIALIZED (SELECT MAX(ABS(u))::BIGINT AS m FROM u{s})"
        )
        steps.append(
            f"v{s} AS MATERIALIZED (SELECT dim, u::DOUBLE / n{s}.m::DOUBLE AS vv "
            f"FROM u{s} CROSS JOIN n{s})"
        )
    last = _POWER_ITERS
    body = ",\n    ".join(steps)
    return f"""
    WITH {head},
    {body}
    SELECT v{last}.dim, FLOOR(v{last}.vv * 1e6) / 1e6 AS loading,
           FLOOR(n{last}.m::DOUBLE
                 / (nn.n::DOUBLE * nn.n::DOUBLE) / 1e8 * 1e6 + 1e-6) / 1e6
               AS eig_est,
           FLOOR(n{last}.m::DOUBLE * 64 / tr.t::DOUBLE * 1e6 + 1e-6) / 1e6
               AS anisotropy
    FROM v{last} CROSS JOIN n{last} CROSS JOIN nn CROSS JOIN tr
    """


@query(
    "embedding_pca_power",
    # covariance numerator C[i,j] = n*SUM(xi*xj) - SUM(xi)*SUM(xj) is
    # EXACT in DECIMAL(38)/HUGEINT over the 1e-4-gridded features
    # (int64 wraps around n ~ 1e5-1e7; = n^2 * cov, a
    # positive rescale power iteration is invariant to); every
    # mat-vec entry snaps, u_i = SUM_j FLOOR(C[i,j] * v_j), so the
    # 64-term sums are exact integers; normalization is by the exact
    # integer max|u_i| (any positive rescale is legal), ONE division
    # -> identical vectors, and the loop closes bit-exactly. With the
    # final iterate max-normalized, max|C v| estimates the dominant
    # eigenvalue (unscale by n^2 * 1e8); anisotropy compares it to
    # the average variance trace/d via exact-integer trace
    oracle=_pca_oracle(),
)
def embedding_pca_power(spark, sf_dir):
    """Dominant covariance direction of the embedding cloud by EIGHT
    max-norm power-iteration steps, with the dominant-eigenvalue
    estimate and the anisotropy ratio (dominant eig / average
    variance) — the embedding audit behind whitening and 'is one
    axis eating the space' checks. On a near-isotropic spectrum (this
    corpus: lambda2/lambda1 = 0.99) the ITERATE is an in-top-subspace
    probe rather than the exact top eigenvector — direction
    convergence goes as (l2/l1)^k — but the max-norm eigenvalue
    estimate stabilizes fast (within 8% of the true l1 here, vs
    trace/d 43% below it) and the anisotropy verdict (~1.6x: no
    single dominant axis) is exactly what the audit needs. Shape
    (r11): ONE scan — a mapInArrow partial outer product (one numpy
    int64 matmul per batch, the scale path the pre-r11 docstring
    already named) — then the d^2-bounded partials (KBs) fold through
    one Arrow stage that builds the exact covariance numerator
    n*s - mu_i*mu_j in arbitrary-precision ints (== the
    DECIMAL(38)/HUGEINT fold it replaces; int64 would wrap silently
    around n ~ 1e5-1e7 at this grid) and runs all eight max-norm
    iterations in replicated op-for-op arithmetic; no driver-side
    algebra, no collect. Residual int64 site: the mat-vec's per-entry
    FLOOR snap, exact while max|C| < 2^63; past that the documented
    scale path is dividing C by a fixed power of two before iterating
    (power iteration is invariant to positive rescale, and the oracle
    would apply the identical shift). Exact-int per-entry product
    snapping, exact-integer max normalization (see the oracle
    comment). At 100 TB the moment pass is one map-only scan; the
    iteration stage moves P x (d^2+d+1) partial rows — bounded by the
    fixed d=64, never by data (for audits at very large d the
    distributed join-aggregate loop from git history is the form)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r11 (guide §4.2, and the scale path this docstring already
    # named): the d x d moment matrix as a mapInArrow partial outer
    # product — one numpy int64 matmul per batch — instead of the
    # posexplode^2 form, whose two Generates put n*d^2 rows (8.2M at
    # sf0.1) through interpreted row-at-a-time evaluation. Exactness
    # is unchanged: x4 = FLOOR(float64(x)*1e4 + 0.5) is the identical
    # IEEE op sequence, products/sums are int64 integers (order-free;
    # |x4| <= ~2e4 so a partial sum wraps only past ~2e10 rows per
    # task), and the same (i, j, s) / (i, mu) / n aggregates come out
    # of the per-partition partials. NULL embeddings count toward n
    # and contribute nothing else — posexplode semantics preserved.
    d_ = 64

    def _moments(it):
        import numpy as np
        import pyarrow as pa

        g = np.zeros((d_, d_), dtype=np.int64)
        mu_p = np.zeros(d_, dtype=np.int64)
        n_rows = 0
        for batch in it:
            lst = batch.column(0)
            n_rows += len(lst)
            if lst.null_count:
                lst = lst.drop_null()
            k = len(lst)
            if not k:
                continue
            flat = lst.flatten().to_numpy(zero_copy_only=False)
            if flat.size != k * d_:
                # named error instead of an assert: survives python -O
                # and says what the fixture contract is (the old
                # posexplode form silently tolerated ragged rows; this
                # kernel's reshape cannot)
                raise ValueError(
                    f"embedding_pca_power: ragged embedding row — got "
                    f"{flat.size} values for {k} rows, expected "
                    f"{k}x{d_}; the kernel requires fixed d={d_}"
                )
            m = np.floor(
                flat.astype(np.float64).reshape(k, d_) * 1e4 + 0.5
            ).astype(np.int64)
            g += m.T @ m
            mu_p += m.sum(axis=0)
        ii = np.repeat(np.arange(d_, dtype=np.int32), d_)
        jj = np.tile(np.arange(d_, dtype=np.int32), d_)
        i_all = np.concatenate(
            [ii, np.arange(d_, dtype=np.int32), np.array([-1], dtype=np.int32)]
        )
        j_all = np.concatenate(
            [jj, np.full(d_, -1, dtype=np.int32), np.array([-1], dtype=np.int32)]
        )
        s_all = np.concatenate(
            [g.ravel(), mu_p, np.array([n_rows], dtype=np.int64)]
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(i_all), pa.array(j_all), pa.array(s_all)],
            names=["i", "j", "s"],
        )

    part = emb.select("embedding").mapInArrow(_moments, "i int, j int, s long")
    # r12 (guide §2.3 "aggregate before you shuffle"): partial-combine
    # the per-partition moment rows by (i, j) BEFORE the single-group
    # funnel below, so the fused iteration stage reads exactly
    # d^2+d+1 rows no matter how many scan partitions P there are. At
    # 100 TB (P ~ 1e5-1e6) the unprepared funnel would pull
    # P x (d^2+d+1) rows (GBs) into one task; the pre-aggregate caps
    # it at KBs for one extra KB-sized exchange. Exactness unchanged:
    # Spark SUM(long) and the pandas groupby-sum it replaces are both
    # wrap-around int64 addition (associative/commutative mod 2^64),
    # so any grouping of the partials lands on the identical bits.
    part = part.groupBy("i", "j").agg(F.sum("s").alias("s"))

    # r11, stage 2: the covariance build + all _POWER_ITERS iterations
    # fused into ONE Arrow stage over the d^2-bounded partials. The
    # pre-r11 form ran each iteration as a broadcast-join + aggregate
    # + eager localCheckpoint — ~3 jobs x 8 iterations of pure
    # scheduling overhead around 4096-row algebra (measured: the whole
    # query stayed ~3.7 s after the moment pass was already down to
    # 0.27 s). The iteration STATE is d- and d^2-sized by construction
    # (same boundedness class as the ALLOWED one-row-per-partition
    # windows), so funneling the P x (d^2+d+1) partial rows through one
    # task moves KBs. Arithmetic is replicated op-for-op:
    # - covariance numerator n*s - mu_i*mu_j in PYTHON ints (exact
    #   arbitrary precision == the DECIMAL(38)/HUGEINT fold it
    #   replaces), then one correctly-rounded float() per entry ==
    #   decimal -> double cast;
    # - mat-vec snap floor(c_double * v_j) -> int64, int64 row sums,
    #   exact-integer max-norm, one IEEE division per entry — the
    #   identical expression tree the Spark loop evaluated;
    # - the three output grids reproduce the former Column expressions
    #   left-to-right. Differentially gated vs the unchanged oracle.
    def _power(pdf):
        import math

        import numpy as np
        import pandas as pd

        n = int(pdf.loc[pdf["i"] == -1, "s"].sum())
        if n == 0:
            # descriptive failure instead of ZeroDivisionError at
            # eig_est (the pre-r11 Column plan produced NULL/Inf rows
            # here; the fixture contract guarantees a non-empty table)
            raise ValueError(
                "embedding_pca_power: embeddings table is empty (n=0)"
            )
        mu_rows = pdf[(pdf["j"] == -1) & (pdf["i"] >= 0)].groupby("i")["s"].sum()
        mu_arr = [0] * d_
        for i, s in mu_rows.items():
            mu_arr[int(i)] = int(s)
        mm = pdf[pdf["j"] >= 0].groupby(["i", "j"])["s"].sum()
        g_mat = np.zeros((d_, d_), dtype=np.int64)
        g_mat[
            mm.index.get_level_values(0).to_numpy(),
            mm.index.get_level_values(1).to_numpy(),
        ] = mm.to_numpy()
        # exact integer covariance numerator (python int == HUGEINT)
        c_int = [
            [n * int(g_mat[i, j]) - mu_arr[i] * mu_arr[j] for j in range(d_)]
            for i in range(d_)
        ]
        t_int = sum(c_int[i][i] for i in range(d_))
        cd = np.array(
            [[float(c) for c in row] for row in c_int], dtype=np.float64
        )
        v = None
        m = 0
        for _ in range(_POWER_ITERS):
            if v is None:
                prod = np.floor(cd * 0.125).astype(np.int64)
            else:
                prod = np.floor(cd * v).astype(np.int64)
            u = prod.sum(axis=1)  # int64, same wrap semantics as SUM(long)
            m = int(np.abs(u).max())
            if m == 0:
                # all-zero matrix (e.g. every embedding is the zero
                # vector): the max-norm divide is undefined — fail with
                # a named error, not ZeroDivisionError
                raise ValueError(
                    "embedding_pca_power: zero covariance matrix — "
                    "max-norm power iteration is undefined (all "
                    "embeddings identical/zero?)"
                )
            v = u.astype(np.float64) / float(m)
        nd = float(n)
        md = float(m)
        td = float(t_int)
        loading = np.floor(v * 1e6) / 1e6
        eig_est = math.floor(md / (nd * nd) / 1e8 * 1e6 + 1e-6) / 1e6
        anisotropy = math.floor(md * 64 / td * 1e6 + 1e-6) / 1e6
        return pd.DataFrame(
            {
                "dim": np.arange(d_, dtype=np.int64),
                "loading": loading,
                "eig_est": np.full(d_, eig_est),
                "anisotropy": np.full(d_, anisotropy),
            }
        )

    return (
        part.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            _power,
            "dim bigint, loading double, eig_est double, anisotropy double",
        )
    )


# ---------------------------------------------------------------------------
# events_holt_linear — recursive (level, trend) smoothing as a fold
# ---------------------------------------------------------------------------

_HOLT_SINK_SEQ = [0]

# Shared by events_holt_linear and its streaming twin
# stream_holt_linear — both must land on the identical rows.
_HOLT_ORACLE = f"""
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      SUM({_CENTS})::BIGINT AS spend
               FROM events GROUP BY 1, 2),
    s AS (SELECT user_id, COUNT(*)::BIGINT AS n_days,
                 list(spend::DOUBLE ORDER BY day) AS xs
          FROM d GROUP BY user_id),
    f AS (SELECT user_id, n_days,
                 list_reduce(
                   list_transform(xs, x -> [x, 0.0::DOUBLE]),
                   (acc, e) -> [0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                                0.25 * e[1] - 0.25 * acc[1]
                                + 0.75 * acc[2]]) AS h
          FROM s)
    SELECT user_id, n_days,
           FLOOR(h[1] * 1e4) / 1e4 AS level,
           FLOOR(h[2] * 1e4) / 1e4 AS trend,
           FLOOR((h[1] + h[2]) * 1e4) / 1e4 AS fcst_next
    FROM f
    """


def _holt_finish(d):
    """(user_id, day, spend) -> the Holt output — shared by the batch
    query and the streaming twin so both evaluate the identical fold
    expression tree (the stream_ewma_smooth / _ewma_finish pattern in
    queries/featureops.py)."""
    s = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.array_sort(
            F.collect_list(
                F.struct("day", F.col("spend").cast("double").alias("x"))
            )
        ).alias("sx"),
    )
    xs = F.transform(F.col("sx"), lambda e: e.getField("x"))

    def merge(acc, x):
        lo, bo = F.element_at(acc, 1), F.element_at(acc, 2)
        return F.array(
            F.lit(0.5) * x + F.lit(0.5) * (lo + bo),
            F.lit(0.25) * x - F.lit(0.25) * lo + F.lit(0.75) * bo,
        )

    h = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.array(F.element_at(xs, 1), F.lit(0.0)),
        merge,
    )
    return s.select(
        "user_id",
        "n_days",
        (F.floor(F.element_at(h, 1) * 1e4) / 1e4).alias("level"),
        (F.floor(F.element_at(h, 2) * 1e4) / 1e4).alias("trend"),
        (
            F.floor(
                (F.element_at(h, 1) + F.element_at(h, 2)) * 1e4
            )
            / 1e4
        ).alias("fcst_next"),
    )


@query(
    "events_holt_linear",
    # Holt's double exponential smoothing (alpha = beta = 1/2) as a
    # LEFT FOLD with a TWO-ELEMENT ARRAY accumulator [level, trend]
    # over each user's day-ordered spend series, in the FLATTENED
    # form l' = 0.5*x + 0.5*(l + b), b' = 0.25*x - 0.25*l + 0.75*b
    # (exactly-representable coefficients; no intra-step dependency,
    # so no field references another field's fresh value). Both
    # engines execute the identical IEEE op sequence over identical
    # exact-cents inputs — bit-identical before the defensive grid.
    # An array (not struct) accumulator is load-bearing for the
    # oracle: DuckDB 1.0 list_reduce writes struct fields IN PLACE
    # from the second application on, so a later field expression
    # reading an earlier acc field sees the NEW value (probed
    # directly; [l, b] lists evaluate correctly)
    oracle=_HOLT_ORACLE,
)
def events_holt_linear(spark, sf_dir):
    """Holt's linear-trend (double exponential) smoothing of each
    user's daily spend, alpha = beta = 1/2 — the level-plus-trend
    recursive smoother behind short-horizon burn-rate forecasts,
    extending events_ewma_smooth's single-state fold to a TWO-state
    [level, trend] accumulator: l' = 0.5x + 0.5(l+b), b' = 0.25x -
    0.25l + 0.75b (the substituted form of b' = 0.5(l'-l) + 0.5b —
    flattened so neither state depends on the other's FRESH value,
    which also dodges a DuckDB list_reduce struct-field in-place
    hazard; see the oracle comment), forecast = level + trend. Both
    engines fold the day-ordered list left-to-right seeded with
    [x0, 0]; every coefficient is exactly representable and the op
    sequence identical, so results agree bit-for-bit before the
    defensive 1e-4 grid. Scale shape: per-user series are
    calendar-bounded (~30 days here), so collect_list stays KB-sized
    per key; one (user, day) aggregate + one user aggregate, no
    window over raw events. The streaming form is the
    stream_ewma_smooth recovery contract with this fold as the
    finisher."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(_cents()).alias("spend"))
    return _holt_finish(d)


# ---------------------------------------------------------------------------
# feature screening and variance-reduced experiment readout
# ---------------------------------------------------------------------------

@query(
    "feature_woe_iv",
    # weight-of-evidence of each source for English-ness with 0.5
    # Laplace smoothing: woe = ln(((g+0.5)*B) / ((b+0.5)*G)) — the
    # only libm call, floor-gridded at 1e-4 with the +1e-6 nudge; the
    # IV contribution (g/G - b/B) * woe multiplies a fixed two-
    # division tree by the ALREADY-GRIDDED woe and snaps to integer
    # micro-units, so the total IV is an exact integer sum (no float
    # accumulation over categories)
    oracle="""
    WITH d AS (SELECT source,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS good
               FROM documents),
    g AS (SELECT source, SUM(good)::BIGINT AS ng,
                 SUM(1 - good)::BIGINT AS nb
          FROM d GROUP BY source),
    t AS (SELECT SUM(ng)::BIGINT AS gg, SUM(nb)::BIGINT AS bb FROM g),
    w AS (SELECT g.source, g.ng, g.nb,
                 FLOOR(ln(((g.ng + 0.5) * t.bb) / ((g.nb + 0.5) * t.gg))
                       * 1e4 + 1e-6) / 1e4 AS woe,
                 t.gg, t.bb
          FROM g CROSS JOIN t),
    v AS (SELECT source, ng, nb, woe,
                 FLOOR((ng::DOUBLE / gg::DOUBLE - nb::DOUBLE / bb::DOUBLE)
                       * woe * 1e6 + 1e-6)::BIGINT AS iv_micro
          FROM w),
    s AS (SELECT SUM(iv_micro)::BIGINT AS total_iv_micro FROM v)
    SELECT v.source, v.ng AS n_good, v.nb AS n_bad, v.woe, v.iv_micro,
           s.total_iv_micro
    FROM v CROSS JOIN s
    """,
)
def feature_woe_iv(spark, sf_dir):
    """Weight-of-evidence and information value of the `source`
    feature for predicting English documents — the credit-scoring-
    standard categorical-feature screen (IV < 0.02 = useless,
    > 0.3 = strong) a curation pipeline runs before trusting a
    metadata column to route documents. WOE uses 0.5 Laplace
    smoothing so empty cells stay finite. Exactness: category counts
    are exact integers; each WOE is ONE ln of a ratio of exact
    products, floor-gridded (the only libm call); each IV
    contribution multiplies a fixed two-division tree by the gridded
    WOE and snaps to integer micro-units BEFORE the total, so the
    total IV is an exact integer sum. Shape: one hash aggregate to
    category grain, a 2-value totals broadcast, a category-count-sized
    reduction — nothing data-sized after the first aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("good"),
    )
    g = d.groupBy("source").agg(
        F.sum("good").cast("bigint").alias("ng"),
        F.sum(1 - F.col("good")).cast("bigint").alias("nb"),
    )
    t = g.agg(
        F.sum("ng").cast("bigint").alias("gg"),
        F.sum("nb").cast("bigint").alias("bb"),
    )
    woe = (
        F.floor(
            F.log(
                ((F.col("ng") + 0.5) * F.col("bb"))
                / ((F.col("nb") + 0.5) * F.col("gg"))
            )
            * 1e4
            + 1e-6
        )
        / 1e4
    )
    w = g.crossJoin(F.broadcast(t)).select(
        "source", "ng", "nb", "gg", "bb", woe.alias("woe")
    )
    iv = F.floor(
        (
            F.col("ng").cast("double") / F.col("gg").cast("double")
            - F.col("nb").cast("double") / F.col("bb").cast("double")
        )
        * F.col("woe")
        * 1e6
        + 1e-6
    ).cast("bigint")
    v = w.select("source", "ng", "nb", "woe", iv.alias("iv_micro"))
    s = v.agg(F.sum("iv_micro").cast("bigint").alias("total_iv_micro"))
    return v.crossJoin(F.broadcast(s)).select(
        "source",
        F.col("ng").alias("n_good"),
        F.col("nb").alias("n_bad"),
        "woe",
        "iv_micro",
        "total_iv_micro",
    )


def _cuped_oracle() -> str:
    from ._xxh64_sql import xxh64_long2_ctes

    return f"""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us, {_CENTS} AS c
               FROM events WHERE "value" IS NOT NULL),
    mm AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM t),
    u AS (SELECT user_id,
                 SUM(CASE WHEN us < mm.mid THEN c ELSE 0 END)::BIGINT AS x,
                 SUM(CASE WHEN us >= mm.mid THEN c ELSE 0 END)::BIGINT AS y
          FROM t CROSS JOIN mm GROUP BY user_id),
    src AS (SELECT user_id AS la, 9::BIGINT AS lb, x, y FROM u),
    {xxh64_long2_ctes('src')},
    a AS (SELECT (h % 2)::INT AS arm, x, y FROM pf),
    s AS (SELECT COUNT(*)::HUGEINT AS n,
                 SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
                 SUM(x::HUGEINT * x::HUGEINT) AS sxx,
                 SUM(x::HUGEINT * y::HUGEINT) AS sxy,
                 SUM(y::HUGEINT * y::HUGEINT) AS syy
          FROM a),
    arm AS (SELECT arm, COUNT(*)::BIGINT AS na, SUM(x)::BIGINT AS sxa,
                   SUM(y)::BIGINT AS sya
            FROM a GROUP BY arm),
    th AS (SELECT (s.n * s.sxy - s.sx * s.sy)::DOUBLE
                      / (s.n * s.sxx - s.sx * s.sx)::DOUBLE AS theta,
                  ((s.n * s.sxy - s.sx * s.sy)::DOUBLE
                   * (s.n * s.sxy - s.sx * s.sy)::DOUBLE)
                      / ((s.n * s.sxx - s.sx * s.sx)::DOUBLE
                         * (s.n * s.syy - s.sy * s.sy)::DOUBLE) AS rho2,
                  s.sx::DOUBLE / s.n::DOUBLE AS xbar
           FROM s),
    w AS (SELECT MAX(CASE WHEN arm = 0 THEN na END) AS n_c,
                 MAX(CASE WHEN arm = 1 THEN na END) AS n_t,
                 MAX(CASE WHEN arm = 0 THEN sxa END) AS sx_c,
                 MAX(CASE WHEN arm = 1 THEN sxa END) AS sx_t,
                 MAX(CASE WHEN arm = 0 THEN sya END) AS sy_c,
                 MAX(CASE WHEN arm = 1 THEN sya END) AS sy_t
          FROM arm)
    SELECT w.n_t, w.n_c, th.theta, th.rho2,
           w.sy_t::DOUBLE / w.n_t::DOUBLE
               - w.sy_c::DOUBLE / w.n_c::DOUBLE AS diff_raw,
           (w.sy_t::DOUBLE / w.n_t::DOUBLE
            - th.theta * (w.sx_t::DOUBLE / w.n_t::DOUBLE - th.xbar))
           - (w.sy_c::DOUBLE / w.n_c::DOUBLE
              - th.theta * (w.sx_c::DOUBLE / w.n_c::DOUBLE - th.xbar))
               AS diff_cuped
    FROM w CROSS JOIN th
    """


@query(
    "stats_cuped",
    # CUPED variance-reduced experiment readout with DETERMINISTIC
    # arm assignment (bit0 of xxhash64(user_id, 9), replayed
    # bit-for-bit in DuckDB): theta = cov(X,Y)/var(X) and rho^2 come
    # from exact int128/DECIMAL(38) sums of integer cents (the
    # numerators n*Sxy - Sx*Sy etc. are exact), and every output is a
    # fixed IEEE tree over those exact integers' correctly-rounded
    # double casts — identical cross-engine, no grid needed
    oracle=_cuped_oracle(),
)
def stats_cuped(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    readout: users hash-split into two arms, each user's pre-period
    spend X (first half of the observation window, exact epoch-micros
    midpoint) regresses out of their post-period spend Y, and the
    adjusted treatment effect diff_cuped = diff_raw shrunk by the
    covariate — the industry-standard variance-reduction technique
    that cuts experiment runtimes by rho^2 (reported). Determinism:
    arm assignment is bit0 of xxhash64(user_id, 9) — JVM-native on
    the Spark side, replayed exactly in DuckDB by the generated
    int128 XXH64 arithmetic; theta and rho^2 derive from exact
    DECIMAL(38)/HUGEINT sums of integer cents; all outputs are fixed
    IEEE trees over exact integers (single divisions and one
    theta-product chain, written identically on both engines).
    Shape: one user-keyed aggregate, one 5-value moment reduction,
    one 2-row arm reduction — nothing data-sized after the first
    aggregate; at 100 TB this is the cheapest two-pass experiment
    readout there is."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(F.col("value").isNotNull()).select(
        "user_id", F.unix_micros("ts").alias("us"), _cents().alias("c")
    )
    mm = t.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        F.expr("(mn + mx) div 2").cast("bigint").alias("mid")
    )
    u = (
        t.crossJoin(F.broadcast(mm))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("us") >= F.col("mid"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    a = u.select(
        F.pmod(
            F.xxhash64(F.col("user_id"), F.lit(9).cast("long")), F.lit(2)
        )
        .cast("int")
        .alias("arm"),
        "x",
        "y",
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = a.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d38(F.col("x"))).alias("sx"),
        F.sum(d38(F.col("y"))).alias("sy"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("sxx"),
        F.sum(d38(F.col("x")) * d38(F.col("y"))).alias("sxy"),
        F.sum(d38(F.col("y")) * d38(F.col("y"))).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    covn = (n * F.col("sxy") - sx * sy).cast("double")
    varxn = (n * F.col("sxx") - sx * sx).cast("double")
    varyn = (n * F.col("syy") - sy * sy).cast("double")
    th = s.select(
        (covn / varxn).alias("theta"),
        ((covn * covn) / (varxn * varyn)).alias("rho2"),
        (sx.cast("double") / n.cast("double")).alias("xbar"),
    )
    arm = a.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("na"),
        F.sum("x").cast("bigint").alias("sxa"),
        F.sum("y").cast("bigint").alias("sya"),
    )
    w = arm.agg(
        F.max(F.when(F.col("arm") == 0, F.col("na"))).alias("n_c"),
        F.max(F.when(F.col("arm") == 1, F.col("na"))).alias("n_t"),
        F.max(F.when(F.col("arm") == 0, F.col("sxa"))).alias("sx_c"),
        F.max(F.when(F.col("arm") == 1, F.col("sxa"))).alias("sx_t"),
        F.max(F.when(F.col("arm") == 0, F.col("sya"))).alias("sy_c"),
        F.max(F.when(F.col("arm") == 1, F.col("sya"))).alias("sy_t"),
    )
    yt = F.col("sy_t").cast("double") / F.col("n_t").cast("double")
    yc = F.col("sy_c").cast("double") / F.col("n_c").cast("double")
    xt = F.col("sx_t").cast("double") / F.col("n_t").cast("double")
    xc = F.col("sx_c").cast("double") / F.col("n_c").cast("double")
    theta, xbar = F.col("theta"), F.col("xbar")
    return w.crossJoin(F.broadcast(th)).select(
        "n_t",
        "n_c",
        theta,
        F.col("rho2"),
        (yt - yc).alias("diff_raw"),
        (
            (yt - theta * (xt - xbar)) - (yc - theta * (xc - xbar))
        ).alias("diff_cuped"),
    )


def _did_oracle() -> str:
    from ._xxh64_sql import xxh64_long2_ctes

    return f"""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us, {_CENTS} AS c
               FROM events WHERE "value" IS NOT NULL),
    mm AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM t),
    u AS (SELECT user_id,
                 SUM(CASE WHEN us < mm.mid THEN c ELSE 0 END)::BIGINT AS x,
                 SUM(CASE WHEN us >= mm.mid THEN c ELSE 0 END)::BIGINT AS y
          FROM t CROSS JOIN mm GROUP BY user_id),
    src AS (SELECT user_id AS la, 9::BIGINT AS lb, x, y FROM u),
    {xxh64_long2_ctes('src')},
    a AS (SELECT (h % 2)::INT AS arm, x, y FROM pf),
    w AS (SELECT SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
                 SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
                 SUM(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sx_t,
                 SUM(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sx_c,
                 SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)::BIGINT AS sy_t,
                 SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)::BIGINT AS sy_c
          FROM a)
    SELECT n_t, n_c,
           sy_t::DOUBLE / n_t::DOUBLE - sx_t::DOUBLE / n_t::DOUBLE
               AS delta_t,
           sy_c::DOUBLE / n_c::DOUBLE - sx_c::DOUBLE / n_c::DOUBLE
               AS delta_c,
           (sy_t::DOUBLE / n_t::DOUBLE - sx_t::DOUBLE / n_t::DOUBLE)
           - (sy_c::DOUBLE / n_c::DOUBLE - sx_c::DOUBLE / n_c::DOUBLE)
               AS did
    FROM w
    """


@query(
    "stats_did",
    # difference-in-differences over the same deterministic design as
    # stats_cuped (hash arms, integer epoch-micros midpoint): each
    # arm's pre->post delta and their difference are fixed IEEE trees
    # over exact int64 cent sums — four divisions and three
    # subtractions, written identically on both engines
    oracle=_did_oracle(),
)
def stats_did(spark, sf_dir):
    """Difference-in-differences readout: each hash-assigned arm's
    pre-to-post change in mean spend, and the difference of those
    changes — the standard causal estimate when arms differ at
    baseline (DiD subtracts each arm's own history, where a raw
    post-period diff would carry the baseline gap). Shares
    stats_cuped's deterministic design — arm = bit0 of
    xxhash64(user_id, 9) replayed exactly in DuckDB, pre/post split
    at the integer epoch-micros midpoint — so the two queries read
    the SAME experiment two ways (CUPED shrinks variance with the
    covariate; DiD nets out level differences). All outputs are fixed
    IEEE trees over exact integer sums. Shape: one user-keyed
    aggregate, one 6-value reduction — nothing data-sized after the
    first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(F.col("value").isNotNull()).select(
        "user_id", F.unix_micros("ts").alias("us"), _cents().alias("c")
    )
    mm = t.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        F.expr("(mn + mx) div 2").cast("bigint").alias("mid")
    )
    u = (
        t.crossJoin(F.broadcast(mm))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("us") >= F.col("mid"), F.col("c")).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    a = u.select(
        F.pmod(
            F.xxhash64(F.col("user_id"), F.lit(9).cast("long")), F.lit(2)
        )
        .cast("int")
        .alias("arm"),
        "x",
        "y",
    )
    arm1 = F.col("arm") == 1
    w = a.agg(
        F.sum(F.when(arm1, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(~arm1, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(arm1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx_t"),
        F.sum(F.when(~arm1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx_c"),
        F.sum(F.when(arm1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy_t"),
        F.sum(F.when(~arm1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy_c"),
    )
    dt = F.col("sy_t").cast("double") / F.col("n_t").cast("double") - F.col(
        "sx_t"
    ).cast("double") / F.col("n_t").cast("double")
    dc = F.col("sy_c").cast("double") / F.col("n_c").cast("double") - F.col(
        "sx_c"
    ).cast("double") / F.col("n_c").cast("double")
    return w.select(
        "n_t",
        "n_c",
        dt.alias("delta_t"),
        dc.alias("delta_c"),
        (dt - dc).alias("did"),
    )


@query(
    "stats_power_mde",
    # experiment sizing from exact moment sums: pooled variance
    # var = (n*S2 - S1^2) / (n*(n-1)) from exact DECIMAL(38) integers,
    # MDE at alpha = .05 two-sided / 80% power with the standard
    # z-constants as exact double literals (1.959964, 0.841621):
    # mde = (z_a + z_b) * sqrt(2*var/n_arm) — one sqrt (correctly
    # rounded), gridded defensively; plus required n per arm to
    # detect a 1% lift of the mean: n_req = ceil(2*var*(z_a+z_b)^2 /
    # (0.01*mean)^2) — a fixed tree over the same exact integers
    oracle=f"""
    WITH c AS (SELECT user_id, {_CENTS} AS c FROM events
               WHERE "value" IS NOT NULL),
    u AS (SELECT user_id, SUM(c)::BIGINT AS s FROM c GROUP BY user_id),
    m AS (SELECT COUNT(*)::HUGEINT AS n, SUM(s)::HUGEINT AS s1,
                 SUM(s::HUGEINT * s::HUGEINT) AS s2
          FROM u)
    SELECT n::BIGINT AS n_users,
           s1::DOUBLE / n::DOUBLE AS mean_spend,
           FLOOR(SQRT((n * s2 - s1 * s1)::DOUBLE
                      / (n * (n - 1))::DOUBLE) * 1e4 + 1e-6) / 1e4
               AS sd_spend,
           FLOOR((1.959964 + 0.841621)
                 * SQRT(2 * ((n * s2 - s1 * s1)::DOUBLE
                             / (n * (n - 1))::DOUBLE)
                        / ((n // 2)::DOUBLE)) * 1e4 + 1e-6) / 1e4
               AS mde_abs,
           CEIL(2 * ((n * s2 - s1 * s1)::DOUBLE / (n * (n - 1))::DOUBLE)
                * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
                / ((0.01 * (s1::DOUBLE / n::DOUBLE))
                   * (0.01 * (s1::DOUBLE / n::DOUBLE))))::BIGINT
               AS n_per_arm_1pct
    FROM m
    """,
)
def stats_power_mde(spark, sf_dir):
    """Experiment sizing readout: the user-level spend variance
    (exact DECIMAL(38) moment sums), the minimum detectable effect of
    an arm-split experiment on THIS population at alpha = 0.05
    two-sided / 80% power, and the users-per-arm needed to detect a
    1% lift of the mean — the pre-experiment calculation every A/B
    platform runs before committing traffic (pairs with
    stats_srm_check's post-hoc gate and stats_cuped, whose rho^2
    says how much this MDE shrinks with a covariate). The z-quantile
    constants ride as exact double literals (1.959964, 0.841621 —
    the textbook normal quantiles at 1e-6 precision); variance is a
    fixed tree over exact integers, the sqrt is correctly rounded
    (IEEE 754 requirement), outputs gridded defensively at 1e-4.
    Shape: one user-keyed aggregate + a 3-value reduction."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("value").isNotNull())
        .select("user_id", _cents().alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").cast("bigint").alias("s"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = u.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d38(F.col("s"))).alias("s1"),
        F.sum(d38(F.col("s")) * d38(F.col("s"))).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (n * s2 - s1 * s1).cast("double") / (n * (n - 1)).cast("double")
    zsum = F.lit(1.959964) + F.lit(0.841621)
    mean = s1.cast("double") / n.cast("double")
    return m.select(
        n.cast("bigint").alias("n_users"),
        mean.alias("mean_spend"),
        (F.floor(F.sqrt(var) * 1e4 + 1e-6) / 1e4).alias("sd_spend"),
        (
            F.floor(
                zsum
                * F.sqrt(
                    F.lit(2)
                    * var
                    / F.expr("cast(n div 2 as double)")
                )
                * 1e4
                + 1e-6
            )
            / 1e4
        ).alias("mde_abs"),
        F.ceil(
            F.lit(2) * var * (zsum * zsum)
            / ((F.lit(0.01) * mean) * (F.lit(0.01) * mean))
        )
        .cast("bigint")
        .alias("n_per_arm_1pct"),
    )


@query(
    "stream_holt_linear",
    # STREAMING twin of events_holt_linear, same batch oracle: the
    # per-(user, day) spend is an update-mode stateful SUM with
    # BOUNDED state (calendar-bounded rows per user) whose re-emits
    # are monotone (cents are non-negative), so max(spend) over the
    # sink recovers final state — the stream_ewma_smooth recovery
    # contract — and the recovered daily table goes through the SAME
    # _holt_finish fold as the batch query
    oracle=_HOLT_ORACLE,
)
def stream_holt_linear(spark, sf_dir):
    """Streaming Holt — the bounded-state streaming twin of
    events_holt_linear, by the same recovery contract as
    stream_ewma_smooth: the running (user, day) spend is an
    update-mode stateful aggregate (state calendar-bounded per user;
    a deployment watermarks days closed and evicts), re-emitted rows
    are SUM-monotone over non-negative cents so max(spend) over the
    memory sink recovers the final daily totals, and the recovered
    table folds through the IDENTICAL two-state _holt_finish tree as
    the batch query. The batch oracle gates both — any divergence
    between micro-batched and whole-table daily accumulation fails
    the value-hash."""
    from ..streaming.events import read_events_stream, run_to_memory

    _HOLT_SINK_SEQ[0] += 1
    name = f"stream_holt_linear_sink_{_HOLT_SINK_SEQ[0]}"
    daily = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(_cents()).alias("spend"))
    )
    run_to_memory(daily, name, output_mode="update", state_partitions=8)
    d = (
        spark.table(name)
        .groupBy("user_id", "day")
        .agg(F.max("spend").alias("spend"))
    )
    return _holt_finish(d)


def _seq_oracle() -> str:
    from ._xxh64_sql import xxh64_long2_ctes

    return f"""
    WITH t0 AS (SELECT user_id, CAST(ts AS DATE) AS day, {_CENTS} AS c
                FROM events WHERE "value" IS NOT NULL),
    src AS (SELECT user_id AS la, 9::BIGINT AS lb, day, c FROM t0),
    {xxh64_long2_ctes('src')},
    t AS (SELECT (h % 2)::INT AS arm, day, c FROM pf),
    v AS (SELECT COUNT(*)::HUGEINT AS n, SUM(c)::HUGEINT AS s1,
                 SUM(c::HUGEINT * c::HUGEINT) AS s2
          FROM t),
    d AS (SELECT day, arm, COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s
          FROM t GROUP BY day, arm),
    p AS (SELECT day,
                 MAX(CASE WHEN arm = 1 THEN n ELSE 0 END) AS nt,
                 MAX(CASE WHEN arm = 0 THEN n ELSE 0 END) AS nc,
                 MAX(CASE WHEN arm = 1 THEN s ELSE 0 END) AS st,
                 MAX(CASE WHEN arm = 0 THEN s ELSE 0 END) AS sc
          FROM d GROUP BY day),
    cum AS (SELECT day,
                   ROW_NUMBER() OVER (ORDER BY day) AS k,
                   (SUM(nt) OVER (ORDER BY day))::BIGINT AS cnt,
                   (SUM(nc) OVER (ORDER BY day))::BIGINT AS cnc,
                   (SUM(st) OVER (ORDER BY day))::BIGINT AS cst,
                   (SUM(sc) OVER (ORDER BY day))::BIGINT AS csc
            FROM p),
    kk AS (SELECT COUNT(*)::BIGINT AS total_looks FROM p)
    SELECT cum.day, cum.k::BIGINT AS k, cum.cnt AS n_t, cum.cnc AS n_c,
           cum.cst::DOUBLE / cum.cnt::DOUBLE
               - cum.csc::DOUBLE / cum.cnc::DOUBLE AS cum_diff,
           FLOOR((cum.cst::DOUBLE / cum.cnt::DOUBLE
                  - cum.csc::DOUBLE / cum.cnc::DOUBLE)
                 / SQRT(((v.n * v.s2 - v.s1 * v.s1)::DOUBLE
                         / (v.n * (v.n - 1))::DOUBLE)
                        * (1.0 / cum.cnt::DOUBLE + 1.0 / cum.cnc::DOUBLE))
                 * 1e4 + 1e-6) / 1e4 AS z,
           FLOOR(1.959964
                 * SQRT(kk.total_looks::DOUBLE / cum.k::DOUBLE)
                 * 1e4 + 1e-6) / 1e4 AS obf_boundary,
           ABS(FLOOR((cum.cst::DOUBLE / cum.cnt::DOUBLE
                      - cum.csc::DOUBLE / cum.cnc::DOUBLE)
                     / SQRT(((v.n * v.s2 - v.s1 * v.s1)::DOUBLE
                             / (v.n * (v.n - 1))::DOUBLE)
                            * (1.0 / cum.cnt::DOUBLE
                               + 1.0 / cum.cnc::DOUBLE))
                     * 1e4 + 1e-6) / 1e4)
               > FLOOR(1.959964
                       * SQRT(kk.total_looks::DOUBLE / cum.k::DOUBLE)
                       * 1e4 + 1e-6) / 1e4 AS crossed
    FROM cum CROSS JOIN kk CROSS JOIN v
    """


@query(
    "stats_sequential_obf",
    # daily sequential monitor with O'Brien-Fleming spending: per-day
    # per-arm exact integer sums, calendar-day-grained cumulative
    # table (~30 rows — the global window runs over LOOKS, never
    # data), pooled variance from exact int128/DECIMAL(38) moments,
    # z and the OBF boundary z_.025 * sqrt(K/k) as fixed sqrt-bearing
    # trees floor-gridded at 1e-4, `crossed` compared on the GRIDDED
    # values so both engines decide the boundary identically
    oracle=_seq_oracle(),
)
def stats_sequential_obf(spark, sf_dir):
    """Sequential experiment monitor: after each calendar day, the
    cumulative treatment-control z-score (deterministic hash arms —
    the stats_cuped design) against the O'Brien-Fleming group-
    sequential boundary z_{.025} * sqrt(K/k) — the always-monitoring
    readout that lets an A/B platform peek daily without inflating
    false positives (early looks need overwhelming evidence; the
    final look reduces to the fixed-horizon test). Variance uses the
    pooled known-variance approximation from exact DECIMAL(38)
    moments (standard for large-n monitoring). Exactness: per-look
    counts and sums are exact integers; z and the boundary are fixed
    sqrt-bearing trees gridded at 1e-4, and the boundary comparison
    runs on the GRIDDED doubles so both engines flag the same looks.
    Shape: one (day, arm) hash aggregate, a ~30-row look table
    (calendar-bounded — the cumulative window is look-grained, never
    data-sized), one 3-value moment broadcast."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(F.col("value").isNotNull()).select(
        F.pmod(
            F.xxhash64(F.col("user_id"), F.lit(9).cast("long")), F.lit(2)
        )
        .cast("int")
        .alias("arm"),
        F.col("ts").cast("date").alias("day"),
        _cents().alias("c"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = t.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d38(F.col("c"))).alias("s1"),
        F.sum(d38(F.col("c")) * d38(F.col("c"))).alias("s2"),
    )
    d = t.groupBy("day", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    p = d.groupBy("day").agg(
        F.max(F.when(F.col("arm") == 1, F.col("n")).otherwise(0)).alias("nt"),
        F.max(F.when(F.col("arm") == 0, F.col("n")).otherwise(0)).alias("nc"),
        F.max(F.when(F.col("arm") == 1, F.col("s")).otherwise(0)).alias("st"),
        F.max(F.when(F.col("arm") == 0, F.col("s")).otherwise(0)).alias("sc"),
    )
    # look-grained (~30 calendar days) global windows — never the data
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = p.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        F.sum("nt").over(w).cast("bigint").alias("cnt"),
        F.sum("nc").over(w).cast("bigint").alias("cnc"),
        F.sum("st").over(w).cast("bigint").alias("cst"),
        F.sum("sc").over(w).cast("bigint").alias("csc"),
    )
    kk = p.agg(F.count(F.lit(1)).cast("bigint").alias("total_looks"))
    var = (
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double") / (F.col("n") * (F.col("n") - 1)).cast("double")
    diff = F.col("cst").cast("double") / F.col("cnt").cast("double") - F.col(
        "csc"
    ).cast("double") / F.col("cnc").cast("double")
    se = F.sqrt(
        var
        * (
            F.lit(1.0) / F.col("cnt").cast("double")
            + F.lit(1.0) / F.col("cnc").cast("double")
        )
    )
    zg = F.floor(diff / se * 1e4 + 1e-6) / 1e4
    bg = (
        F.floor(
            F.lit(1.959964)
            * F.sqrt(
                F.col("total_looks").cast("double")
                / F.col("k").cast("double")
            )
            * 1e4
            + 1e-6
        )
        / 1e4
    )
    return (
        cum.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(v))
        .select(
            "day",
            "k",
            F.col("cnt").alias("n_t"),
            F.col("cnc").alias("n_c"),
            diff.alias("cum_diff"),
            zg.alias("z"),
            bg.alias("obf_boundary"),
            (F.abs(zg) > bg).alias("crossed"),
        )
    )


# ---------------------------------------------------------------------------
# eval completion: average precision, Brier decomposition, conformal
# ---------------------------------------------------------------------------

@query(
    "eval_average_precision",
    # AP = SUM over descending thresholds of delta-recall * precision
    # = SUM cp_k * tp_k / (P * (tp_k + fp_k)). Each term is ONE
    # division of exact int products -> identical doubles, snapped to
    # a 1e-12 integer grid BEFORE the sum (terms <= 1, so the scaled
    # sum stays exact int64 far beyond this corpus), so the sum is
    # order-free; the final AP is one exact-int division by 1e12
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS score,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    g AS (SELECT score, SUM(y)::BIGINT AS cp, SUM(1 - y)::BIGINT AS cn
          FROM d GROUP BY score),
    c AS (SELECT score, cp,
                 (SUM(cp) OVER (ORDER BY score DESC))::BIGINT AS tp,
                 (SUM(cn) OVER (ORDER BY score DESC))::BIGINT AS fp
          FROM g),
    t AS (SELECT SUM(cp)::BIGINT AS p FROM g),
    terms AS (SELECT FLOOR((c.cp * c.tp)::DOUBLE
                           / (t.p * (c.tp + c.fp))::DOUBLE
                           * 1e12)::BIGINT AS t12,
                     t.p
              FROM c CROSS JOIN t WHERE c.cp > 0)
    SELECT MAX(p)::BIGINT AS p_total, COUNT(*)::BIGINT AS n_steps,
           SUM(t12)::DOUBLE / 1e12 AS average_precision
    FROM terms
    """,
)
def eval_average_precision(spark, sf_dir):
    """Average precision (the area under the precision-recall curve
    by the step-interpolation every ranking library reports) of the
    linear-probe score — the single-number PR summary that pairs with
    eval_roc_auc when positives are rare and ROC flatters. AP sums
    delta-recall x precision over descending distinct thresholds;
    each term cp*tp/(P*(tp+fp)) is ONE division of exact integer
    products (identical cross-engine), snapped to a 1e-12 integer
    grid BEFORE summation so no float accumulation order exists, and
    the cumulative tp/fp come from rank.global_prefix_sum (no
    single-reducer sort). Output is one row; the term table is
    score-vocabulary-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        _score().alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("cp"),
        F.sum(1 - F.col("y")).cast("bigint").alias("cn"),
    )
    c = global_prefix_sum(
        g, [F.col("score").desc()], ["cp", "cn"], ["tp", "fp"]
    ).select("cp", "tp", "fp")
    t = g.agg(F.sum("cp").cast("bigint").alias("p"))
    t12 = F.floor(
        (F.col("cp") * F.col("tp")).cast("double")
        / (F.col("p") * (F.col("tp") + F.col("fp"))).cast("double")
        * 1e12
    ).cast("bigint")
    terms = (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("cp") > 0)
        .select(t12.alias("t12"), "p")
    )
    return terms.agg(
        F.max("p").cast("bigint").alias("p_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
        (F.sum("t12").cast("double") / F.lit(1e12)).alias(
            "average_precision"
        ),
    )


@query(
    "eval_brier_decomposition",
    # Brier score and its Murphy decomposition over the 10
    # calibration bins, ALL-INTEGER until the final divisions: with
    # micro-unit confidences p6 and binary labels, n*1e12*brier =
    # SUM((p6 - y*1e6)^2) is an exact integer; reliability and
    # resolution use the bins' exact integer (conf, rate) micro
    # values; uncertainty = P*(N-P)/N^2 is exact-int operands
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS s,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    mm AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM d),
    p AS (SELECT y,
                 CASE WHEN mm.hi = mm.lo THEN 0
                      ELSE FLOOR((d.s - mm.lo)::DOUBLE
                                 / (mm.hi - mm.lo)::DOUBLE
                                 * 1e6)::BIGINT END AS p6
          FROM d CROSS JOIN mm),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS pos,
                   SUM((p6 - y * 1000000)::HUGEINT
                       * (p6 - y * 1000000)::HUGEINT) AS sq
            FROM p),
    b AS (SELECT LEAST(p6 // 100000, 9) AS bin, COUNT(*)::BIGINT AS nb,
                 SUM(y)::BIGINT AS npos, SUM(p6)::BIGINT AS sp6
          FROM p GROUP BY 1),
    bb AS (SELECT nb,
                  FLOOR(sp6::DOUBLE / nb::DOUBLE)::BIGINT AS conf,
                  FLOOR((npos * 1000000)::DOUBLE / nb::DOUBLE)::BIGINT
                      AS rate
           FROM b),
    dec AS (SELECT SUM(nb::HUGEINT * (conf - rate)::HUGEINT
                       * (conf - rate)::HUGEINT) AS rel,
                   tot.n, tot.pos, tot.sq,
                   SUM(nb::HUGEINT
                       * (rate - FLOOR((tot.pos * 1000000)::DOUBLE
                                       / tot.n::DOUBLE)::BIGINT)::HUGEINT
                       * (rate - FLOOR((tot.pos * 1000000)::DOUBLE
                                       / tot.n::DOUBLE)::BIGINT)::HUGEINT)
                       AS res
            FROM bb CROSS JOIN tot GROUP BY tot.n, tot.pos, tot.sq)
    SELECT n, pos,
           sq::DOUBLE / (n::DOUBLE * 1e12) AS brier,
           rel::DOUBLE / (n::DOUBLE * 1e12) AS reliability,
           res::DOUBLE / (n::DOUBLE * 1e12) AS resolution,
           (pos * (n - pos))::DOUBLE / (n * n)::DOUBLE AS uncertainty
    FROM dec
    """,
)
def eval_brier_decomposition(spark, sf_dir):
    """Brier score of the min-max-normalized probe confidence against
    the binary label, with the Murphy decomposition (reliability -
    resolution + uncertainty) over the same 10 equal-width bins as
    eval_calibration_bins — the proper-scoring-rule view of the same
    question the reliability table answers visually. All-integer
    core: confidences are micro-units, so n*1e12*brier =
    SUM((p6 - y*1e6)^2) folds exactly in DECIMAL(38,0) (HUGEINT on
    the oracle side — int64 would wrap silently past ~9e6 rows, the
    stats_cuped device), reliability and resolution are exact
    DECIMAL(38) sums over the bins' micro (conf, rate) pairs, and
    uncertainty is
    P*(N-P)/N^2 — every output one or two IEEE divisions of exact
    integers. Shape: one min/max broadcast, one row-level aggregate,
    one 10-bin aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        _score().alias("s"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    mm = d.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    p6 = _p6_minmax()
    p = d.crossJoin(F.broadcast(mm)).select(p6.alias("p6"), "y")
    # per-row term <= 1e12 fits int64, but the SUM wraps past ~9e6
    # rows — fold in decimal(38,0) (HUGEINT on the oracle side), the
    # stats_cuped / stats_power_mde device, so corpus scale stays
    # exact instead of wrapping silently
    sq = (F.col("p6") - F.col("y") * 1000000)
    tot = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
        F.sum((sq * sq).cast("decimal(38,0)")).alias("sq"),
    )
    b = p.groupBy(
        F.least(F.floor(F.col("p6") / 100000), F.lit(9))
        .cast("bigint")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("y").cast("bigint").alias("npos"),
        F.sum("p6").alias("sp6"),
    )
    conf = F.floor(
        F.col("sp6").cast("double") / F.col("nb").cast("double")
    ).cast("bigint")
    rate = F.floor(
        (F.col("npos") * 1000000).cast("double") / F.col("nb").cast("double")
    ).cast("bigint")
    bb = b.select("nb", conf.alias("conf"), rate.alias("rate"))
    ybar = F.floor(
        (F.col("pos") * 1000000).cast("double") / F.col("n").cast("double")
    ).cast("bigint")
    dec = (
        bb.crossJoin(F.broadcast(tot))
        .groupBy("n", "pos", "sq")
        .agg(
            F.sum(
                F.col("nb").cast("decimal(38,0)")
                * (F.col("conf") - F.col("rate"))
                * (F.col("conf") - F.col("rate"))
            ).alias("rel"),
            F.sum(
                F.col("nb").cast("decimal(38,0)")
                * (F.col("rate") - ybar)
                * (F.col("rate") - ybar)
            ).alias("res"),
        )
    )
    nd = F.col("n").cast("double")
    return dec.select(
        "n",
        "pos",
        (F.col("sq").cast("double") / (nd * 1e12)).alias("brier"),
        (F.col("rel").cast("double") / (nd * 1e12)).alias("reliability"),
        (F.col("res").cast("double") / (nd * 1e12)).alias("resolution"),
        (
            (F.col("pos") * (F.col("n") - F.col("pos"))).cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        ).alias("uncertainty"),
    )


def _conformal_oracle() -> str:
    from ._xxh64_sql import xxh64_long2_ctes

    return f"""
    WITH e AS (SELECT vec_id, {_SCORE} AS s,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    src AS (SELECT vec_id AS la, 7::BIGINT AS lb, s, y FROM e),
    {xxh64_long2_ctes('src')},
    sp AS MATERIALIZED (SELECT (h % 2)::INT AS grp, s, y FROM pf),
    mm AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM sp WHERE grp = 0),
    nc AS MATERIALIZED (SELECT sp.grp,
                  ABS(sp.y * 1000000
                      - CASE WHEN mm.hi = mm.lo THEN 0
                             ELSE FLOOR((sp.s - mm.lo)::DOUBLE
                                        / (mm.hi - mm.lo)::DOUBLE
                                        * 1e6)::BIGINT END)
                      AS nonconf
           FROM sp CROSS JOIN mm),
    cal AS (SELECT nonconf, COUNT(*)::BIGINT AS c FROM nc
            WHERE grp = 0 GROUP BY nonconf),
    nn AS (SELECT SUM(c)::BIGINT AS n_cal FROM cal),
    qi AS (SELECT n_cal, (9 * (n_cal + 1) + 9) // 10 AS q_idx FROM nn),
    cum AS (SELECT nonconf,
                   (SUM(c) OVER (ORDER BY nonconf))::BIGINT AS cumc
            FROM cal),
    qh AS (SELECT MIN(cum.nonconf)::BIGINT AS q_hat
           FROM cum CROSS JOIN qi WHERE cum.cumc >= qi.q_idx),
    tst AS (SELECT COUNT(*)::BIGINT AS n_test,
                   SUM(CASE WHEN nc.nonconf <= qh.q_hat
                            THEN 1 ELSE 0 END)::BIGINT AS covered
            FROM nc CROSS JOIN qh WHERE nc.grp = 1)
    SELECT qi.n_cal, tst.n_test, qi.q_idx::BIGINT AS q_idx, qh.q_hat,
           tst.covered::DOUBLE / tst.n_test::DOUBLE AS coverage,
           0.9::DOUBLE AS target
    FROM qi CROSS JOIN qh CROSS JOIN tst
    """


@query(
    "eval_conformal_coverage",
    # split-conformal calibration: deterministic hash split (bit0 of
    # xxhash64(vec_id, 7), replayed in DuckDB), nonconformity
    # |y*1e6 - p6| an exact integer (micro-unit confidence normalized
    # by the CALIBRATION half's min/max only — no test leakage), the
    # conformal quantile q_hat = the ceil(0.9*(n+1))-th order
    # statistic via per-distinct-value counts + the distributed
    # prefix sum (never a single-reducer sort), and coverage one
    # exact-int division
    oracle=_conformal_oracle(),
)
def eval_conformal_coverage(spark, sf_dir):
    """Split-conformal prediction check for the probe classifier: the
    calibration half's nonconformity scores (|label - confidence| in
    micro-units) yield the distribution-free threshold q_hat at the
    ceil(0.9*(n+1)) order statistic, and the held-out half's coverage
    (fraction with nonconformity <= q_hat) must sit near the 90%
    target regardless of the model being right — the
    assumption-free uncertainty wrapper modern eval stacks put around
    any scorer. Determinism: the split is bit0 of xxhash64(vec_id, 7)
    replayed exactly in DuckDB; normalization uses calibration-only
    min/max (one 2-value broadcast, no test leakage); nonconformities
    are exact integers; the order statistic resolves through
    per-distinct-value counts + rank.global_prefix_sum (the KS shape
    — vocabulary-sized, no global sort); q_idx uses integer ceiling
    division. Shape: two hash aggregates + a distinct-values cumsum +
    1-row broadcasts."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.pmod(
            F.xxhash64(F.col("vec_id"), F.lit(7).cast("long")), F.lit(2)
        )
        .cast("int")
        .alias("grp"),
        _score().alias("s"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    mm = e.filter(F.col("grp") == 0).agg(
        F.min("s").alias("lo"), F.max("s").alias("hi")
    )
    # _p6_minmax carries the hi = lo degenerate guard: if every
    # CALIBRATION-half score ties (possible on small corpora even
    # with varied test scores), both engines pin p6 = 0 instead of
    # diverging on FLOOR(NaN)
    nc = e.crossJoin(F.broadcast(mm)).select(
        "grp", F.abs(F.col("y") * 1000000 - _p6_minmax()).alias("nonconf")
    )
    cal = (
        nc.filter(F.col("grp") == 0)
        .groupBy("nonconf")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qi = cal.agg(F.sum("c").cast("bigint").alias("n_cal")).select(
        "n_cal",
        F.expr("(9 * (n_cal + 1) + 9) div 10").cast("bigint").alias("q_idx"),
    )
    cum = global_prefix_sum(cal, ["nonconf"], "c", "cumc").select(
        "nonconf", "cumc"
    )
    qh = (
        cum.crossJoin(F.broadcast(qi))
        .filter(F.col("cumc") >= F.col("q_idx"))
        .agg(F.min("nonconf").cast("bigint").alias("q_hat"))
    )
    tst = (
        nc.filter(F.col("grp") == 1)
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.col("nonconf") <= F.col("q_hat"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        qi.crossJoin(F.broadcast(qh))
        .crossJoin(F.broadcast(tst))
        .select(
            "n_cal",
            "n_test",
            "q_idx",
            "q_hat",
            (
                F.col("covered").cast("double")
                / F.col("n_test").cast("double")
            ).alias("coverage"),
            F.lit(0.9).alias("target"),
        )
    )


@query(
    "stats_wilson_ci",
    # Wilson 95% interval for each event type's big-value rate: with
    # exact integer (n, k), p_hat = k/n is one division; the center
    # and half-width are fixed sqrt-bearing IEEE trees over (n, k)
    # and the z constant, written identically on both engines and
    # floor-gridded at 1e-6 (+1e-6 nudge dwarfs libm noise)
    oracle="""
    WITH g AS (SELECT event_type, COUNT(*)::BIGINT AS n,
                      SUM(CASE WHEN "value" > 100 THEN 1 ELSE 0 END)::BIGINT
                          AS k
               FROM events WHERE "value" IS NOT NULL
               GROUP BY event_type)
    SELECT event_type, n, k,
           k::DOUBLE / n::DOUBLE AS p_hat,
           FLOOR(((k::DOUBLE / n::DOUBLE + 1.959964 * 1.959964
                       / (2 * n::DOUBLE))
                  - 1.959964 * SQRT((k::DOUBLE / n::DOUBLE)
                                    * (1 - k::DOUBLE / n::DOUBLE)
                                    / n::DOUBLE
                                    + 1.959964 * 1.959964
                                      / (4 * n::DOUBLE * n::DOUBLE)))
                 / (1 + 1.959964 * 1.959964 / n::DOUBLE) * 1e6 + 1e-6)
               / 1e6 AS wilson_lo,
           FLOOR(((k::DOUBLE / n::DOUBLE + 1.959964 * 1.959964
                       / (2 * n::DOUBLE))
                  + 1.959964 * SQRT((k::DOUBLE / n::DOUBLE)
                                    * (1 - k::DOUBLE / n::DOUBLE)
                                    / n::DOUBLE
                                    + 1.959964 * 1.959964
                                      / (4 * n::DOUBLE * n::DOUBLE)))
                 / (1 + 1.959964 * 1.959964 / n::DOUBLE) * 1e6 + 1e-6)
               / 1e6 AS wilson_hi
    FROM g
    """,
)
def stats_wilson_ci(spark, sf_dir):
    """Wilson 95% confidence interval for each event type's
    big-value rate (value > 100) — the error bars every rate metric
    (CTR, conversion, defect rate) should carry instead of the
    Wald interval that collapses at extreme rates or small n (Wilson
    stays inside [0, 1] and never degenerates at k = 0 or k = n).
    Exactness: (n, k) are exact integers; p_hat is one division; the
    center and half-width are fixed sqrt-bearing IEEE trees over
    (n, k, z) written identically on both engines, floor-gridded at
    1e-6. Shape: ONE map-side-partial hash aggregate to k rows — the
    cheapest distributed shape."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.filter(F.col("value").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    nd = F.col("n").cast("double")
    ph = F.col("k").cast("double") / nd
    z = F.lit(1.959964)
    center = ph + z * z / (2 * nd)
    half = z * F.sqrt(
        ph * (F.lit(1) - ph) / nd + z * z / (4 * nd * nd)
    )
    denom = F.lit(1) + z * z / nd
    return g.select(
        "event_type",
        "n",
        "k",
        ph.alias("p_hat"),
        (F.floor((center - half) / denom * 1e6 + 1e-6) / 1e6).alias(
            "wilson_lo"
        ),
        (F.floor((center + half) / denom * 1e6 + 1e-6) / 1e6).alias(
            "wilson_hi"
        ),
    )


# ---------------------------------------------------------------------------
# events_cusum_changepoint — CUSUM drift monitor over the daily series
# ---------------------------------------------------------------------------

@query(
    "events_cusum_changepoint",
    # CUSUM against the series' own mean, kept EXACT by clearing the
    # denominator: C_k = sum_{i<=k}(x_i - S/D) is rescaled to
    # D*C_k = D*prefix_k - k*S, an exact integer (folded in
    # HUGEINT/DECIMAL(38) so corpus-scale prefixes cannot wrap). The
    # changepoint flag compares exact integers (|num| = max|num|), so
    # both engines pick the identical peak day. The cumulative window
    # runs over the CALENDAR-day table (~30 rows), never the data
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, SUM({_CENTS})::BIGINT AS x
               FROM events WHERE "value" IS NOT NULL GROUP BY 1),
    t AS (SELECT COUNT(*)::HUGEINT AS dd, SUM(x)::HUGEINT AS s FROM d),
    c AS (SELECT day, x,
                 (SUM(x) OVER (ORDER BY day))::HUGEINT AS pre,
                 ROW_NUMBER() OVER (ORDER BY day)::HUGEINT AS k
          FROM d),
    m AS (SELECT c.day, c.x, (t.dd * c.pre - c.k * t.s) AS num
          FROM c CROSS JOIN t),
    mx AS (SELECT MAX(ABS(num)) AS mab FROM m)
    SELECT m.day, m.x AS day_cents, m.num::BIGINT AS cusum_num,
           (ABS(m.num) = mx.mab) AS is_peak
    FROM m CROSS JOIN mx
    """,
)
def events_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint scan over the daily spend series — the
    classic drift monitor (Page's cumulative sum against the global
    mean): the day where |CUSUM| peaks is the estimated level-shift
    point, the statistic behind data-freshness and metric-drift
    alerts. Exactness device: instead of subtracting the float mean
    S/D per day, the cumulative deviation is cleared of its
    denominator — D*C_k = D*prefix_k - k*S — and folded in
    DECIMAL(38)/HUGEINT, so the peak day is an exact-integer argmax
    both engines resolve identically (no float accumulation order
    anywhere; only the FINAL cast to BIGINT leaves the exact domain,
    after the comparison). Shape: one data-sized hash aggregate to
    calendar days, then a ~30-row cumulative window (ALLOWED-listed:
    look-grained, never the data), a 1-row total and a 1-row max
    broadcast. At 100 TB the day table is still calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(_cents()).cast("bigint").alias("x"))
    )
    t = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("dd"),
        F.sum(d38(F.col("x"))).alias("s"),
    )
    # look-grained (~30 calendar days) global windows — never the data
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        "x",
        F.sum(d38(F.col("x"))).over(w).alias("pre"),
        d38(F.row_number().over(Window.orderBy("day"))).alias("k"),
    )
    m = c.crossJoin(F.broadcast(t)).select(
        "day",
        "x",
        (F.col("dd") * F.col("pre") - F.col("k") * F.col("s")).alias("num"),
    )
    mx = m.agg(F.max(F.abs(F.col("num"))).alias("mab"))
    return m.crossJoin(F.broadcast(mx)).select(
        "day",
        F.col("x").alias("day_cents"),
        F.col("num").cast("bigint").alias("cusum_num"),
        (F.abs(F.col("num")) == F.col("mab")).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# stats_theilsen_trend — robust slope of the daily series
# ---------------------------------------------------------------------------

@query(
    "stats_theilsen_trend",
    # Theil-Sen: the (lower) median of all C(D,2) pairwise slopes of
    # the daily series. Each slope is ONE IEEE division of exact
    # integers (cents delta / day delta) -> bit-identical doubles on
    # both engines, so the order statistic (row_number over slope
    # with (d1, d2) tiebreak) selects the identical pair. The pair
    # table is C(days, 2) — calendar-bounded (~435 at 30 days), never
    # data-sized
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, SUM({_CENTS})::BIGINT AS y
               FROM events WHERE "value" IS NOT NULL GROUP BY 1),
    p AS (SELECT a.day AS d1, b.day AS d2,
                 (b.y - a.y)::DOUBLE
                     / date_diff('day', a.day, b.day)::DOUBLE AS slope
          FROM d a JOIN d b ON a.day < b.day),
    n AS (SELECT COUNT(*)::BIGINT AS n_pairs FROM p),
    r AS (SELECT slope,
                 ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS rk
          FROM p)
    SELECT (SELECT COUNT(*) FROM d)::BIGINT AS n_days,
           n.n_pairs,
           r.slope AS sen_slope
    FROM r CROSS JOIN n
    WHERE r.rk = (n.n_pairs + 1) // 2
    """,
)
def stats_theilsen_trend(spark, sf_dir):
    """Theil-Sen robust trend estimate of the daily spend series: the
    median of all pairwise slopes — the slope estimator that tolerates
    ~29% outlier days where OLS breaks, the standard robust trend for
    metric monitoring. Every pairwise slope is a single IEEE division
    of exact integers (cents difference over an integer day gap), so
    both engines hold bit-identical doubles and the median — the
    lower-median order statistic with a (d1, d2) tiebreak — selects
    the identical pair with no grid needed. Shape: one data-sized hash
    aggregate to calendar days; the pair self-join is C(days,2)-sized
    — calendar-bounded (~435 rows at 30 days, ~6.6M at a 10-year
    retention), NEVER a function of event count — and the median
    selection runs through rank.global_rank (the terasort
    decomposition), so even the 10-year pair table never funnels
    through a single reducer."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(_cents()).cast("bigint").alias("y"))
    )
    a = d.select(F.col("day").alias("d1"), F.col("y").alias("y1"))
    b = d.select(F.col("day").alias("d2"), F.col("y").alias("y2"))
    p = a.join(b, F.col("d1") < F.col("d2")).select(
        "d1",
        "d2",
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / F.datediff("d2", "d1").cast("double")
        ).alias("slope"),
    )
    n = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    # exact global rank over the calendar-bounded pair table through
    # the terasort decomposition — no single-reducer window even at
    # a 10-year C(days,2)
    from ..operators.rank import global_rank

    r = global_rank(p, ["slope", "d1", "d2"], "rk").select("slope", "rk")
    return (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("rk") == F.floor((F.col("n_pairs") + 1) / 2))
        .crossJoin(F.broadcast(nd))
        .select("n_days", "n_pairs", F.col("slope").alias("sen_slope"))
    )


# ---------------------------------------------------------------------------
# stats_mann_kendall — nonparametric trend TEST (companion to Theil-Sen)
# ---------------------------------------------------------------------------

@query(
    "stats_mann_kendall",
    # Mann-Kendall S = sum over day pairs of sign(y_j - y_i): exact
    # int64 from a calendar-bounded pair join (NO window anywhere).
    # Tie-corrected variance cleared of its denominator:
    # var18 = 18*Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5), exact
    # int64 over tie-group sizes. z applies the standard continuity
    # correction (S-1 or S+1) and is ONE fixed sqrt tree over exact
    # ints, floor-gridded at 1e-4 with the +1e-6 nudge
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, SUM({_CENTS})::BIGINT AS y
               FROM events WHERE "value" IS NOT NULL GROUP BY 1),
    s AS (SELECT SUM(CASE WHEN b.y > a.y THEN 1
                          WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s
          FROM d a JOIN d b ON a.day < b.day),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM d),
    ties AS (SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
                        AS tcorr
             FROM (SELECT COUNT(*)::BIGINT AS t FROM d GROUP BY y)
             WHERE t > 1),
    v AS (SELECT (nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tcorr)::BIGINT
                     AS var18
          FROM nn CROSS JOIN ties)
    SELECT nn.n AS n_days, s.s AS s_stat, v.var18,
           CASE WHEN s.s = 0 OR v.var18 = 0 THEN 0.0
                ELSE FLOOR((s.s - CASE WHEN s.s > 0 THEN 1 ELSE -1 END)
                           ::DOUBLE
                           / SQRT(v.var18::DOUBLE / 18.0) * 1e4 + 1e-6)
                     / 1e4 END AS z
    FROM s CROSS JOIN nn CROSS JOIN v
    """,
)
def stats_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test over the daily spend series — the
    nonparametric significance companion to stats_theilsen_trend's
    slope estimate (the pairing every monitoring stack ships: Sen's
    slope for magnitude, MK for 'is there a trend at all'). S is the
    exact-int64 sum of pairwise signs over the calendar-bounded day
    pair join (C(days,2) rows — ~435 at 30 days — never data-sized,
    and a pure aggregate: no window at all); the tie-corrected
    variance is kept exact by clearing the /18 denominator
    (var18 = n(n-1)(2n+5) - sum over tie groups of t(t-1)(2t+5), all
    int64); z applies the standard +/-1 continuity correction and is
    one fixed sqrt-bearing IEEE tree over exact integers, written
    identically on both engines and floor-gridded at 1e-4 (+1e-6
    nudge). Degenerate guards: S = 0 or zero variance (all days tie)
    pin z = 0.0 explicitly on both engines. Shape: one data-sized
    hash aggregate to days, then look-sized joins and three 1-row
    broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(_cents()).cast("bigint").alias("y"))
    )
    a = d.select(F.col("day").alias("d1"), F.col("y").alias("y1"))
    b = d.select(F.col("day").alias("d2"), F.col("y").alias("y2"))
    s = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(
            F.sum(
                F.when(F.col("y2") > F.col("y1"), 1)
                .when(F.col("y2") < F.col("y1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tg = d.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    ties = tg.filter(F.col("t") > 1).agg(
        F.coalesce(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tcorr")
    )
    v = (
        nn.crossJoin(F.broadcast(ties))
        .select(
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tcorr")
            )
            .cast("bigint")
            .alias("var18")
        )
    )
    z = (
        F.floor(
            (
                F.col("s")
                - F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(-1))
            ).cast("double")
            / F.sqrt(F.col("var18").cast("double") / 18.0)
            * 1e4
            + 1e-6
        )
        / 1e4
    )
    return (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(v))
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            "var18",
            F.when((F.col("s") == 0) | (F.col("var18") == 0), F.lit(0.0))
            .otherwise(z)
            .alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# stats_runs_test — Wald-Wolfowitz randomness check of the daily series
# ---------------------------------------------------------------------------

@query(
    "stats_runs_test",
    # Wald-Wolfowitz runs test vs the series' own LOWER MEDIAN (an
    # exact order statistic over integer cents — no float midpoint):
    # days strictly above vs strictly below the median (median-equal
    # days excluded, the standard convention), R = 1 + boundary count
    # via lag over the ~30-row day table; mu and sigma are fixed IEEE
    # trees over exact (n1, n2), z floor-gridded at 1e-4 + 1e-6
    oracle=f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, SUM({_CENTS})::BIGINT AS y
               FROM events WHERE "value" IS NOT NULL GROUP BY 1),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM d),
    med AS (SELECT y AS m FROM (
                SELECT y, ROW_NUMBER() OVER (ORDER BY y, day) AS rk
                FROM d) r CROSS JOIN nn
            WHERE r.rk = (nn.n + 1) // 2),
    b AS (SELECT day, (y > med.m) AS up FROM d CROSS JOIN med
          WHERE y <> med.m),
    r AS (SELECT COUNT(*)::BIGINT AS n_runs FROM (
             SELECT up, LAG(up) OVER (ORDER BY day) AS prev FROM b)
          WHERE prev IS NULL OR up <> prev),
    c AS (SELECT SUM(CASE WHEN up THEN 1 ELSE 0 END)::BIGINT AS n1,
                 SUM(CASE WHEN up THEN 0 ELSE 1 END)::BIGINT AS n2
          FROM b)
    SELECT c.n1, c.n2, r.n_runs,
           CASE WHEN c.n1 = 0 OR c.n2 = 0 THEN 0.0
                ELSE FLOOR((r.n_runs::DOUBLE
                            - (1.0 + 2.0 * c.n1 * c.n2
                                     / (c.n1 + c.n2)::DOUBLE))
                           / SQRT(2.0 * c.n1 * c.n2
                                  * (2.0 * c.n1 * c.n2 - c.n1 - c.n2)
                                  / ((c.n1 + c.n2)::DOUBLE
                                     * (c.n1 + c.n2)::DOUBLE
                                     * (c.n1 + c.n2 - 1)::DOUBLE))
                           * 1e4 + 1e-6) / 1e4 END AS z
    FROM c CROSS JOIN r
    """,
)
def stats_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test of the daily spend series against its
    own lower median — 'is the sequence of above/below-median days
    random, or does it cluster/alternate', the classic check before
    trusting i.i.d.-assuming monitors (CUSUM, control charts) on a
    metric. The reference level is the exact LOWER-MEDIAN order
    statistic over integer cents (a ~30-row rank window, no float
    midpoint so both engines pick the identical day's value);
    median-equal days are excluded per the standard convention, runs
    count from a lag over the calendar-day table, and z is one fixed
    sqrt-bearing IEEE tree over exact (n1, n2, R), floor-gridded at
    1e-4 (+1e-6). Degenerate guard: one-sided series (n1 or n2 = 0)
    pins z = 0.0 on both engines. Shape: one data-sized hash
    aggregate to days; every window is calendar-day-grained
    (ALLOWED-listed)."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(_cents()).cast("bigint").alias("y"))
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = d.select(
        "y", F.row_number().over(Window.orderBy("y", "day")).alias("rk")
    )
    med = (
        ranked.crossJoin(F.broadcast(nn))
        .filter(F.col("rk") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("y").alias("m"))
    )
    b = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select("day", (F.col("y") > F.col("m")).alias("up"))
    )
    lagged = b.select(
        "up", F.lag("up").over(Window.orderBy("day")).alias("prev")
    )
    r = lagged.filter(
        F.col("prev").isNull() | (F.col("up") != F.col("prev"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_runs"))
    c = b.agg(
        F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1)).cast("bigint").alias("n2"),
    )
    tot = (F.col("n1") + F.col("n2")).cast("double")
    mu = F.lit(1.0) + 2.0 * F.col("n1") * F.col("n2") / tot
    sig = F.sqrt(
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            tot
            * tot
            * (F.col("n1") + F.col("n2") - 1).cast("double")
        )
    )
    z = F.floor(
        (F.col("n_runs").cast("double") - mu) / sig * 1e4 + 1e-6
    ) / 1e4
    return c.crossJoin(F.broadcast(r)).select(
        "n1",
        "n2",
        "n_runs",
        F.when((F.col("n1") == 0) | (F.col("n2") == 0), F.lit(0.0))
        .otherwise(z)
        .alias("z"),
    )


# ---------------------------------------------------------------------------
# eval_mcc — Matthews correlation at the mid-confidence threshold
# ---------------------------------------------------------------------------

@query(
    "eval_mcc",
    # confusion counts at the p6 >= 500000 threshold (micro-unit
    # min-max confidence, the eval_calibration_bins device incl. its
    # hi = lo guard) are exact int64; the MCC numerator tp*tn - fp*fn
    # folds in HUGEINT/DECIMAL(38) (products reach n^2); the
    # denominator sqrt takes ONE double product of four exact counts
    # (identical expression tree both engines), and mcc floor-grids
    # at 1e-6 with the +1e-6-style nudge at that scale. Any empty
    # margin pins mcc = 0.0 explicitly (the 0/0 convention)
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS s,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    mm AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM d),
    p AS (SELECT y,
                 CASE WHEN mm.hi = mm.lo THEN 0
                      ELSE FLOOR((d.s - mm.lo)::DOUBLE
                                 / (mm.hi - mm.lo)::DOUBLE
                                 * 1e6)::BIGINT END AS p6
          FROM d CROSS JOIN mm),
    c AS (SELECT SUM(CASE WHEN p6 >= 500000 AND y = 1 THEN 1 ELSE 0 END)
                     ::BIGINT AS tp,
                 SUM(CASE WHEN p6 >= 500000 AND y = 0 THEN 1 ELSE 0 END)
                     ::BIGINT AS fp,
                 SUM(CASE WHEN p6 < 500000 AND y = 0 THEN 1 ELSE 0 END)
                     ::BIGINT AS tn,
                 SUM(CASE WHEN p6 < 500000 AND y = 1 THEN 1 ELSE 0 END)
                     ::BIGINT AS fn
          FROM p)
    SELECT tp, fp, tn, fn,
           CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0
                     OR (tn + fp) = 0 OR (tn + fn) = 0 THEN 0.0
                ELSE FLOOR((tp::HUGEINT * tn::HUGEINT
                            - fp::HUGEINT * fn::HUGEINT)::DOUBLE
                           / SQRT((tp + fp)::DOUBLE * (tp + fn)::DOUBLE
                                  * (tn + fp)::DOUBLE * (tn + fn)::DOUBLE)
                           * 1e6 + 1e-6) / 1e6 END AS mcc
    FROM c
    """,
)
def eval_mcc(spark, sf_dir):
    """Matthews correlation coefficient of the probe classifier at the
    mid-confidence operating point (min-max-normalized score >= 0.5)
    — the single-number confusion summary that stays honest under
    class imbalance where accuracy and F1 mislead, standard in
    quality-filter gate reviews. Confusion counts are exact int64 over
    the micro-unit confidence (same normalization and hi = lo
    degenerate guard as eval_calibration_bins); the numerator
    tp*tn - fp*fn folds in DECIMAL(38)/HUGEINT (each product reaches
    n^2, past int64 near 3e9 rows); the denominator is ONE sqrt over
    a double product of four exact margin counts with the identical
    expression tree on both engines, and mcc floor-grids at 1e-6.
    Any empty margin pins mcc = 0.0 explicitly. Shape: one 2-value
    min/max broadcast + ONE map-side-partial aggregate to a single
    row — the cheapest distributed shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        _score().alias("s"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    mm = d.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    p = d.crossJoin(F.broadcast(mm)).select(
        _p6_minmax().alias("p6"), "y"
    )
    pos = F.col("p6") >= 500000
    c = p.agg(
        F.sum(F.when(pos & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(pos & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pos & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when(~pos & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    d38 = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    num = d38(F.col("tp")) * d38(F.col("tn")) - d38(F.col("fp")) * d38(
        F.col("fn")
    )
    den = F.sqrt(
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn")).cast("double")
        * (F.col("tn") + F.col("fp")).cast("double")
        * (F.col("tn") + F.col("fn")).cast("double")
    )
    degenerate = (
        ((F.col("tp") + F.col("fp")) == 0)
        | ((F.col("tp") + F.col("fn")) == 0)
        | ((F.col("tn") + F.col("fp")) == 0)
        | ((F.col("tn") + F.col("fn")) == 0)
    )
    return c.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(degenerate, F.lit(0.0))
        .otherwise(
            F.floor(num.cast("double") / den * 1e6 + 1e-6) / 1e6
        )
        .alias("mcc"),
    )


# ---------------------------------------------------------------------------
# embedding_matryoshka_eval — prefix-dimension retrieval quality audit
# ---------------------------------------------------------------------------

@query(
    "embedding_matryoshka_eval",
    # exact-integer retrieval: scores are int64 dot products over the
    # 1e-4-gridded features (full 64 dims vs the 16-dim prefix), ranks
    # break ties on (score DESC, vec_id) — no float ordering anywhere,
    # so both engines produce the identical top-10 sets; overlap@10,
    # and the two top-1 ids are pure integer outputs
    oracle="""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                                     x -> FLOOR(x::DOUBLE * 1e4 + 0.5)
                                          ::BIGINT) AS x4
               FROM embeddings),
    q AS (SELECT vec_id AS qid, x4 AS qx4 FROM v WHERE vec_id <= 4),
    p AS (SELECT q.qid, v.vec_id,
                 list_sum(list_transform(range(64),
                                          i -> q.qx4[i + 1] * v.x4[i + 1]))
                     ::BIGINT AS s_full,
                 list_sum(list_transform(range(16),
                                          i -> q.qx4[i + 1] * v.x4[i + 1]))
                     ::BIGINT AS s_pre
          FROM v CROSS JOIN q WHERE v.vec_id <> q.qid),
    r AS (SELECT qid, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY s_full DESC, vec_id) AS rf,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY s_pre DESC, vec_id) AS rp
          FROM p)
    SELECT qid,
           SUM(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END)::BIGINT
               AS overlap10,
           MAX(CASE WHEN rf = 1 THEN vec_id END)::BIGINT AS full_top1,
           MAX(CASE WHEN rp = 1 THEN vec_id END)::BIGINT AS prefix_top1
    FROM r GROUP BY qid
    """,
)
def embedding_matryoshka_eval(spark, sf_dir):
    """Matryoshka-embedding retrieval audit: for each probe vector,
    how much of the full-dimension (64) exact top-10 survives when
    retrieval uses only the 16-dim PREFIX — the measurement behind
    adopting truncated (MRL-style) embeddings for cheap first-stage
    retrieval, where prefix dims carry most of the signal and the
    full vector only reranks. Reports overlap@10 plus both top-1 ids
    per probe. Exactness: scores are exact int64 dot products on the
    1e-4 feature grid (zip_with + integer fold — the ml_logreg
    device), ranks tie-break on (score DESC, vec_id), every output an
    integer — nothing for libm to perturb.

    Scale shape: the 5 probes broadcast; scoring is MAP-ONLY over the
    vector table (never shuffled); then a PARTITION-LOCAL top-10
    prune per (probe, input partition) — the global top-10 is a
    subset of the union of local top-10s for any split, so the
    nondeterministic spark_partition_id never reaches the result —
    cuts the per-probe rank window to <= 20 rows x partition count
    before the exact global ranks. The brute-force oracle ranks the
    unpruned pairs; equality IS the prune's correctness check. At
    100 TB the same plan holds: one scan, bounded shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    x4 = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1e4 + 0.5).cast("long"),
    )
    v = emb.select("vec_id", x4.alias("x4"))
    q = v.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("qid"), F.col("x4").alias("qx4")
    )
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            idot(F.col("qx4"), F.col("x4")).alias("s_full"),
            idot(
                F.slice(F.col("qx4"), 1, 16), F.slice(F.col("x4"), 1, 16)
            ).alias("s_pre"),
        )
    )
    # partition-local prune: any split's local top-10s contain the
    # global top-10, so the arbitrary pid never affects the output
    local = scored.withColumn("pid", F.spark_partition_id())
    wlf = Window.partitionBy("qid", "pid").orderBy(
        F.col("s_full").desc(), F.col("vec_id")
    )
    wlp = Window.partitionBy("qid", "pid").orderBy(
        F.col("s_pre").desc(), F.col("vec_id")
    )
    pruned = (
        local.withColumn("lf", F.row_number().over(wlf))
        .withColumn("lp", F.row_number().over(wlp))
        .filter((F.col("lf") <= 10) | (F.col("lp") <= 10))
        .drop("pid", "lf", "lp")
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("s_full").desc(), F.col("vec_id")
    )
    wp = Window.partitionBy("qid").orderBy(
        F.col("s_pre").desc(), F.col("vec_id")
    )
    r = pruned.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    return r.groupBy("qid").agg(
        F.sum(
            F.when((F.col("rf") <= 10) & (F.col("rp") <= 10), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("overlap10"),
        F.max(F.when(F.col("rf") == 1, F.col("vec_id")))
        .cast("bigint")
        .alias("full_top1"),
        F.max(F.when(F.col("rp") == 1, F.col("vec_id")))
        .cast("bigint")
        .alias("prefix_top1"),
    )


# ---------------------------------------------------------------------------
# stats_bootstrap_poisson — the production bootstrap, deterministic
# ---------------------------------------------------------------------------

# Poisson(1) CDF breakpoints floored onto the 2^20 grid — shared
# verbatim by the Spark CASE ladder and the DuckDB oracle, so the
# weight is a pure integer table lookup on both engines. The modulus
# is a POWER OF TWO (2^20) because 2^64 mod 2^20 = 0: Spark's SIGNED
# xxhash64 and the oracle's unsigned HUGEINT replay then agree on
# h mod 2^20 without any signedness bridging (the h % 2 trick of
# stats_permutation_test, generalized).
_BOOT_B = 32
_POIS_CUM_20 = [385749, 771499, 964373, 1028665, 1044738, 1047952,
                1048488, 1048565]


def _boot_oracle() -> str:
    from ._xxh64_sql import xxh64_long2_ctes

    ladder = " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS_CUM_20)
    )
    w_sql = f"CASE {ladder} ELSE {len(_POIS_CUM_20)} END"
    return f"""
    WITH e AS (SELECT event_id, {_CENTS} AS c FROM events
               WHERE "value" IS NOT NULL),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(c)::HUGEINT AS s FROM e),
    src AS (SELECT e.event_id AS la, r.k::BIGINT AS lb, e.c
            FROM e CROSS JOIN range({_BOOT_B}) r(k)),
    {xxh64_long2_ctes('src')},
    w AS (SELECT lb, c, {w_sql} AS wt
          FROM (SELECT lb, c, (h % 1048576)::BIGINT AS u FROM pf)),
    rep AS (SELECT lb, SUM(wt)::BIGINT AS nw,
                   SUM(wt::HUGEINT * c::HUGEINT) AS sw
            FROM w GROUP BY lb),
    mk AS (SELECT sw::DOUBLE / nw::DOUBLE AS mean_b,
                  ROW_NUMBER() OVER (ORDER BY sw::DOUBLE / nw::DOUBLE, lb)
                      AS rk
           FROM rep WHERE nw > 0),
    kk AS (SELECT COUNT(*)::BIGINT AS b_eff FROM mk)
    SELECT tot.n AS n_events,
           tot.s::DOUBLE / tot.n::DOUBLE AS mean,
           (SELECT mean_b FROM mk CROSS JOIN kk
            WHERE rk = CAST(ceil(0.05 * b_eff) AS BIGINT)) AS ci90_lo,
           (SELECT mean_b FROM mk CROSS JOIN kk
            WHERE rk = CAST(ceil(0.95 * b_eff) AS BIGINT)) AS ci90_hi,
           kk.b_eff
    FROM tot CROSS JOIN kk
    """


@query(
    "stats_bootstrap_poisson",
    # Poisson(1) bootstrap: replicate b weights each row by the
    # Poisson quantile of xxhash64(event_id, b) mod 2^20 (breakpoint
    # table shared verbatim with the Spark side; the 2^20 modulus
    # makes signed/unsigned hash agreement free), replicate means are
    # ONE division of exact integer sums each, and the 90% CI is a
    # pure ORDER-STATISTIC selection (ceil(0.05B)/ceil(0.95B)-th of
    # the B=32 replicate means, (mean, b)-tiebroken) — no arithmetic
    # ever combines replicates, so no grid is needed anywhere
    oracle=_boot_oracle(),
)
def stats_bootstrap_poisson(spark, sf_dir):
    """Percentile-bootstrap 90% confidence interval for the mean event
    value, by the POISSON BOOTSTRAP — the one-pass streaming form
    (each row's multiplicity in replicate b is an independent
    Poisson(1) draw) that production systems use because classic
    multinomial resampling needs n known up front and a shuffle per
    replicate, while this is a MAP over the data: B=32 weights per
    row, one 32-group aggregate with map-side partial combine.

    Determinism device: the 'draw' is the Poisson(1) inverse-CDF of
    xxhash64(event_id, replicate) mod 2^20 against a breakpoint table
    shared VERBATIM between the Spark CASE ladder and the DuckDB
    xxh64 replay (queries/_xxh64_sql.py); the power-of-two modulus
    sidesteps signed-vs-unsigned hash representation entirely
    (2^64 mod 2^20 = 0 — the h % 2 trick of stats_permutation_test,
    generalized). Replicate means are single IEEE divisions of exact
    integer sums (weighted sums folded in DECIMAL(38)/HUGEINT); the
    CI bounds are order statistics of the 32 replicate means — pure
    selection, bit-identical cross-engine with no grid. Empty
    replicates (possible only on tiny corpora) are excluded with the
    count reported as b_eff. The only global window ranks the
    32-row replicate table (ALLOWED-listed). At 100 TB: one scan,
    32x map-side explode, 32-group aggregate — the canonical
    'bootstrap the mean of a petabyte' shape."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("value").isNotNull()).select(
        "event_id", _cents().alias("c")
    )
    tot = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
    )
    reps = e.select(
        "event_id",
        "c",
        F.explode(
            F.array(*[F.lit(k).cast("long") for k in range(_BOOT_B)])
        ).alias("b"),
    )
    u = F.pmod(
        F.xxhash64(F.col("event_id"), F.col("b")), F.lit(1048576)
    )
    wt = F.lit(len(_POIS_CUM_20))
    for k in range(len(_POIS_CUM_20) - 1, -1, -1):
        wt = F.when(u < _POIS_CUM_20[k], k).otherwise(wt)
    rep = (
        reps.select("b", "c", wt.alias("wt"))
        .groupBy("b")
        .agg(
            F.sum("wt").cast("bigint").alias("nw"),
            F.sum(F.col("wt").cast("decimal(38,0)") * F.col("c")).alias(
                "sw"
            ),
        )
        .filter(F.col("nw") > 0)
    )
    mean_b = F.col("sw").cast("double") / F.col("nw").cast("double")
    mk = rep.select(
        mean_b.alias("mean_b"),
        F.row_number()
        .over(Window.orderBy(mean_b, F.col("b")))
        .alias("rk"),
        # pinned (r11): three consumers (b_eff count, lo, hi) would
        # otherwise each re-run the 32x-explode weighted aggregate
        # over the events table; this is a 32-row table
    ).localCheckpoint(eager=False)
    kk = mk.agg(F.count(F.lit(1)).cast("bigint").alias("b_eff"))
    lo = (
        mk.crossJoin(F.broadcast(kk))
        .filter(F.col("rk") == F.ceil(0.05 * F.col("b_eff")))
        .select(F.col("mean_b").alias("ci90_lo"))
    )
    hi = (
        mk.crossJoin(F.broadcast(kk))
        .filter(F.col("rk") == F.ceil(0.95 * F.col("b_eff")))
        .select(F.col("mean_b").alias("ci90_hi"))
    )
    return (
        tot.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(kk))
        .select(
            F.col("n").alias("n_events"),
            (F.col("s").cast("double") / F.col("n").cast("double")).alias(
                "mean"
            ),
            "ci90_lo",
            "ci90_hi",
            "b_eff",
        )
    )


# ---------------------------------------------------------------------------
# eval_isotonic_fit — isotonic (PAVA) calibration via the minimax form
# ---------------------------------------------------------------------------

@query(
    "eval_isotonic_fit",
    # isotonic regression of the positive rate onto the score order,
    # by the MINIMAX characterization fit_i = max_{j<=i} min_{k>=i}
    # avg(y over bins j..k) — equivalent to PAVA but expressible as
    # joins/windows instead of a sequential pool loop. Every interval
    # average is ONE division of exact integer prefix sums (identical
    # doubles cross-engine); min/max are pure selections, so the fit
    # needs no grid. Pair table is m^2/2 with m bounded by the score
    # GRID (1e-4), never by data
    oracle=f"""
    WITH d AS (SELECT {_SCORE} AS s,
                      CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
               FROM embeddings),
    g AS (SELECT s, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS k
          FROM d GROUP BY s),
    p AS (SELECT s, n, k,
                 (SUM(n) OVER w)::BIGINT AS nc,
                 (SUM(k) OVER w)::BIGINT AS kc
          FROM g WINDOW w AS (ORDER BY s)),
    pr AS (SELECT a.s AS j, b.s AS i,
                  (b.kc - (a.kc - a.k))::DOUBLE
                      / (b.nc - (a.nc - a.n))::DOUBLE AS iv
           FROM p a JOIN p b ON a.s <= b.s),
    sm AS (SELECT j, i,
                  MIN(iv) OVER (PARTITION BY j ORDER BY i DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS bmin
           FROM pr),
    f AS (SELECT i AS s, MAX(bmin) AS fit FROM sm GROUP BY i)
    SELECT g.s, g.n, g.k, g.k::DOUBLE / g.n::DOUBLE AS raw_rate, f.fit
    FROM g JOIN f USING (s)
    """,
)
def eval_isotonic_fit(spark, sf_dir):
    """Isotonic calibration of the probe classifier: the monotone
    step function closest (least squares) to the per-score positive
    rate — PAVA, the calibrator production stacks prefer over Platt
    scaling because it assumes only monotonicity. PAVA's
    pool-adjacent-violators loop is inherently sequential, so this
    query computes the IDENTICAL fit by the minimax characterization
    fit(i) = max over j <= i of min over k >= i of the interval
    positive rate avg(j..k): per-score bins with exact integer
    prefix sums (rank.global_prefix_sum — no single-reducer window),
    an m^2/2 interval join whose averages are single IEEE divisions
    of exact integers, a per-j suffix-min window (partitions of size
    <= m), and one hash aggregate for the max — minimum and maximum
    are pure selections over bit-identical doubles, so the fit
    matches the oracle with NO grid. Scale: m is bounded by the
    score GRID (1e-4 over [-1, 1] -> <= 20001 bins, 2e8 pair rows at
    the theoretical max, all parallel hash/window work; coarsen the
    grid to shrink it) — never by the data. The output fit is
    provably nondecreasing in s (property-tested)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        _score().alias("s"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
        # pinned (r11): consumed by the prefix-sum decomposition AND
        # the final join-back — one score-grid-bounded table, one scan
    ).localCheckpoint(eager=False)
    p = global_prefix_sum(g, ["s"], ["n", "k"], ["nc", "kc"]).select(
        "s", "n", "k", F.col("nc").cast("bigint").alias("nc"),
        F.col("kc").cast("bigint").alias("kc"),
    )
    a = p.select(
        F.col("s").alias("j"),
        (F.col("nc") - F.col("n")).alias("np"),
        (F.col("kc") - F.col("k")).alias("kp"),
    )
    b = p.select(F.col("s").alias("i"), "nc", "kc")
    pr = a.join(b, F.col("j") <= F.col("i")).select(
        "j",
        "i",
        (
            (F.col("kc") - F.col("kp")).cast("double")
            / (F.col("nc") - F.col("np")).cast("double")
        ).alias("iv"),
    )
    wsm = (
        Window.partitionBy("j")
        .orderBy(F.col("i").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sm = pr.select("j", "i", F.min("iv").over(wsm).alias("bmin"))
    f = sm.groupBy(F.col("i").alias("s")).agg(F.max("bmin").alias("fit"))
    return g.join(f, "s").select(
        "s",
        "n",
        "k",
        (F.col("k").cast("double") / F.col("n").cast("double")).alias(
            "raw_rate"
        ),
        "fit",
    )
