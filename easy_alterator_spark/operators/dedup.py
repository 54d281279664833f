"""Deduplication operators for large-scale text corpora.

Five families, all shuffle-disciplined for 100 TB inputs:

- **exact**       : md5 fingerprint -> groupBy. Shuffle key is 32 bytes
                    per doc regardless of document size.
- **ngram Jaccard**: exact word-set Jaccard on candidate pairs. The
                    all-pairs form is O(n²) — only for bounded subsets
                    or as the *verify* stage after LSH candidates.
- **MinHash+LSH** : signatures computed row-local (no shuffle), banded;
                    the only shuffle is the band-bucket self-join whose
                    key (band_idx, band_hash) is uniformly distributed
                    by construction.
- **SimHash**     : 64-bit signature row-local; candidate pairs via
                    16-bit band buckets; hamming-distance verify.
- **embedding cosine**: near-dup by cosine over array<float>; brute
                    force for bounded sets, LSH bucketing at scale
                    (see operators/similarity.py).

Banding/verify math is pure Column expressions (higher-order
transforms, no Python) with TWO deliberate Arrow-kernel exceptions,
both because Spark's higher-order functions evaluate interpreted
(measured ~10M flop/s vs numpy's vectorized path):

- the dense hyperplane projection in
  :func:`embedding_lsh_dedup_pairs` (pandas_udf numpy matmul);
- the MinHash signature in :func:`_minhash_kernel` (r11, pandas_udf
  numpy multiply-add — bit-identical to the Column form
  :func:`_minhash_from_hashes_col`, which is kept only as the
  reference for the equivalence tests in tests/test_round11_optim.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import text as T
from ..functions import vectors as V

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_survivors(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One survivor (min id) per canonical-text group + group size."""
    return (
        docs.select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_cnt"))
        .select(id_col, "dup_cnt")
    )


# ---------------------------------------------------------------------------
# exact word-set Jaccard (brute force / verify stage)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs (a < b) with word-set Jaccard >= threshold.

    O(n²) join — callers must bound the input (or feed LSH candidates
    through :func:`verify_jaccard` instead).

    Pair-evaluation cost discipline (this feeds nine registered
    queries — clustering, pagerank, edge support, keep-best — so the
    per-pair constant matters): tokens are xxhash64'd up front so the
    n² comparisons run on fixed-width longs instead of strings (same
    collision-odds argument as :func:`minhash_dedup_pairs`,
    ≈ n²/2⁶⁴ per doc); the exact size bound
    t·max(sa,sb) <= min(sa,sb) prunes each pair with an integer
    compare before any array work; and |A ∪ B| = sa + sb − |A ∩ B|
    makes the survivors cost ONE array_intersect, not
    intersect + union.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.transform(
            T.distinct_tokens(F.col(text_col)), lambda t: F.xxhash64(t)
        ).alias("toks"),
    )
    a = toks.select(
        F.col("id").alias("doc_id_a"),
        F.col("toks").alias("ta"),
        F.size("toks").alias("sa"),
    )
    b = toks.select(
        F.col("id").alias("doc_id_b"),
        F.col("toks").alias("tb"),
        F.size("toks").alias("sb"),
    )
    size_ok = (
        F.least(F.col("sa"), F.col("sb")).cast("double")
        # epsilon keeps IEEE noise on the exact grid from over-pruning
        # true pairs (loose by 1e-9 = safe, same guard as the prefix
        # filter's size bound)
        >= F.lit(threshold) * F.greatest(F.col("sa"), F.col("sb")) - 1e-9
    )
    return (
        a.join(b, (F.col("doc_id_a") < F.col("doc_id_b")) & size_ok)
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("inter")),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_id_a", "doc_id_b", F.round("jac", 4).alias("jac"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Carter-Wegman multilinear permutations mod the Mersenne prime
# 2^31-1, with operand bounds chosen so the arithmetic can NEVER
# overflow a signed 64-bit long:
#   lo, hi  are 31-bit halves of the token hash   (< 2^31)
#   a, b    are multipliers in [1, p)             (< 2^31)
#   c       is an additive constant in [0, p)     (< 2^31)
#   lo*a + hi*b + c < 2^62 + 2^62 (fits; then pmod p mixes)
# so the same expression is correct under BOTH ANSI and legacy
# arithmetic — no dependence on wrap-around long semantics (a driver
# session with spark.sql.ansi.enabled=true would throw on wrap-around).
# The mod-p reduction is REQUIRED for hashing quality: without it the
# product is monotone in (lo, hi) and every "permutation" would pick
# the same argmin token.
_MERSENNE31 = (1 << 31) - 1
_PERM_A = [((0x9E3779B97F4A7C15 * (2 * i + 1)) % (_MERSENNE31 - 1)) + 1 for i in range(256)]
_PERM_B = [((0xBF58476D1CE4E5B9 * (i + 1) + 0x94D049BB133111EB) % (_MERSENNE31 - 1)) + 1 for i in range(256)]
_PERM_C = [(0xD6E8FEB86659FD93 * (i + 1)) % _MERSENNE31 for i in range(256)]


# num_perm -> cached Arrow kernel (the pandas_udf object is reused
# across query invocations so each call doesn't re-register a UDF)
_MINHASH_KERNELS: dict[int, "object"] = {}


def _minhash_kernel(num_perm: int):
    """Arrow-batched numpy MinHash kernel — the r11 production form of
    :func:`_minhash_from_hashes_col` (guide §4.2: hand whole batches
    to vectorized native code instead of interpreted expressions).

    Spark's higher-order functions evaluate INTERPRETED (no codegen):
    the Column form costs |set| x num_perm lambda evaluations per row
    — measured 3.24 s for the 3,935-unique-set signature stage of
    dedup_minhash_lsh at sf0.1 (~2.4 s of pure signature math on one
    post-AQE-coalesce task), vs 0.96 s with this kernel (the residual
    is the upstream set-collapse). The arithmetic is the SAME
    overflow-free integer multiply-add mod 2^31-1 — int64 all the way,
    so the result is bit-identical to the Column form (pinned by
    tests/test_round11_optim.py) and order-free.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    if num_perm in _MINHASH_KERNELS:
        return _MINHASH_KERNELS[num_perm]
    a = np.array(_PERM_A[:num_perm], dtype=np.int64)
    b = np.array(_PERM_B[:num_perm], dtype=np.int64)
    c = np.array(_PERM_C[:num_perm], dtype=np.int64)
    p = np.int64(_MERSENNE31)
    # The Column twin's sentinel expression `lit(p) + i` evaluates in
    # INT32 (p = 2^31-1 is the int max), so positions >= 1 WRAP
    # negative. That is still correct there — sentinels only need to
    # be disjoint from real minhash values in [0, p) and shared by all
    # empty sets — and this kernel reproduces the wrap bit-for-bit so
    # the two forms are interchangeable (pinned in
    # tests/test_round11_optim.py, incl. the empty-set rows).
    sentinel = (
        (np.int64(_MERSENNE31) + np.arange(num_perm, dtype=np.int64) + 2**31)
        % 2**32
        - 2**31
    )

    @pandas_udf("array<bigint>")
    def mh(hsets: pd.Series) -> pd.Series:
        import numpy as _np

        out = []
        for h in hsets:
            if h is None:
                out.append(sentinel)
                continue
            v = _np.asarray(h, dtype=_np.int64)
            if v.size == 0:
                out.append(sentinel)
                continue
            # identical operand construction to the Column form:
            # lo = h & 0x7FFFFFFF, hi = h >>> 33 (unsigned shift)
            lo = v & _np.int64(0x7FFFFFFF)
            hi = (v.view(_np.uint64) >> _np.uint64(33)).view(_np.int64)
            # lo*a + hi*b + c < 2^63 (see constant derivation), so the
            # int64 matrix never overflows; % p == pmod for
            # non-negative operands
            m = (lo[:, None] * a + hi[:, None] * b + c) % p
            out.append(m.min(axis=0))
        return pd.Series(out)

    _MINHASH_KERNELS[num_perm] = mh
    return mh


def _minhash_from_hashes_col(htoks: F.Column, num_perm: int) -> F.Column:
    """Column-expression MinHash reference (pre-r11 production path).

    Every permutation is an overflow-free multiply-add universal hash
    over the two 31-bit halves of the 64-bit token hash (see constant
    derivation above). The whole signature is ONE nested higher-order
    expression (transform over a permutation-index sequence, inner
    zip_with over the pre-split token-hash halves) — constant
    expression-tree size regardless of num_perm, so codegen stays small
    and compiles fast; the naive form (num_perm separate array_min
    subtrees) costs seconds of compilation alone. Empty token sets get
    a sentinel signature so they only ever match each other.

    Higher-order functions evaluate interpreted, which makes this form
    ~24x slower than the Arrow kernel on the signature math (r11
    measurement in :func:`_minhash_kernel`); it remains the reference
    implementation and the bit-equality oracle for the kernel.
    """
    pa = F.array(*[F.lit(a) for a in _PERM_A[:num_perm]])
    pb = F.array(*[F.lit(b) for b in _PERM_B[:num_perm]])
    pc = F.array(*[F.lit(c) for c in _PERM_C[:num_perm]])
    # split each 64-bit hash once; every permutation reuses the halves
    lo = F.transform(htoks, lambda h: h.bitwiseAND(F.lit(0x7FFFFFFF)))
    hi = F.transform(htoks, lambda h: F.shiftrightunsigned(h, 33))
    idx = F.sequence(F.lit(0), F.lit(num_perm - 1))
    sig = F.transform(
        idx,
        lambda i: F.array_min(
            F.zip_with(
                lo,
                hi,
                lambda x, y: F.pmod(
                    x * F.element_at(pa, i + 1)
                    + y * F.element_at(pb, i + 1)
                    + F.element_at(pc, i + 1),
                    F.lit(_MERSENNE31),
                ),
            )
        ),
    )
    # Sentinel for empty token sets: values outside [0, p) — position
    # 0 is p itself; `lit(p) + i` evaluates in INT32 (p is the int32
    # max), so later positions WRAP negative (noted r11; the Arrow
    # kernel replicates the wrap bit-for-bit). No real minhash (always
    # in [0, p) after pmod) can collide with either form, so empty
    # sets match only each other; magnitudes stay < 2^31, so the
    # downstream position-tagging (v * num_perm + i in
    # minhash_dedup_pairs) cannot overflow a long even under ANSI.
    sentinel = F.transform(idx, lambda i: F.lit(_MERSENNE31) + i)
    return F.when(F.size(htoks) > 0, sig).otherwise(sentinel)


def _band_hashes(sig: F.Column, bands: int, rows_per_band: int) -> F.Column:
    """array of per-band bucket hashes — one nested HOF expression."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(F.slice(sig, b * rows_per_band + 1, rows_per_band), b),
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    df_prune: float | None = None,
    min_set: int = 1,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact word-set Jaccard.

    This is the 100 TB dedup path, built so no stage is quadratic in
    the *duplication factor*:

    1. Collapse docs to their distinct hashed token SETS (a corpus
       with heavy duplication has far fewer unique sets than docs; a
       cluster of k same-set docs would otherwise put k²·bands/2 rows
       through the band join).
    2. MinHash+LSH band self-join over unique sets only; dedupe the
       candidate id pairs BEFORE the verify (the distinct shuffles
       16-byte pairs and cuts Jaccard work by up to bands×); verify
       with exact Jaccard over the 64-bit hashed sets (long-array set
       ops are ~10× cheaper than string ones; collision odds ≈ n²/2⁶⁴).
    3. Expand same-set groups (jac = 1.0 by definition) and verified
       cross-set pairs back to doc-id pairs — output-sized work only.

    Candidate-stage discipline (this is where template-heavy corpora
    explode): a true near-dup pair collides in MOST of the `bands`
    buckets, so a naive band self-join emits each pair ~bands times and
    needs a candidate `distinct()` that shuffles bands× the real
    candidate volume. Instead each banded row carries position-tagged
    band-hash and signature arrays, and the join applies two extra
    conditions built from NATIVE set functions (interpreted lambda
    conditions here cost ~4× — they run per colliding pair, measured
    9.8M pairs at sf0.1):

    - first-matching-band (`~arrays_overlap` over the earlier-band
      slices): each pair is emitted exactly once across all bands, so
      no candidate `distinct()` exists at all;
    - signature pre-verify (`array_intersect` over position-tagged
      sigs): estimated Jaccard must reach `threshold - max(0.25, 8σ)`
      (σ = sqrt(t(1-t)/num_perm), so the bound is 8-sigma conservative
      — miss odds ~1e-15 per pair), which keeps sub-threshold
      collisions away from the exact-Jaccard array join.

    Trade-off, documented for the 100 TB plan: carrying tagged
    sig+bands multiplies the banded shuffle payload by
    ~(num_perm+bands)×8 bytes per row, but removes both the
    bands×-inflated distinct shuffle and a separate signature-fetch
    join — the right side of the trade whenever collisions are
    plentiful, which is exactly when dedup is worth running.
    """
    hs = docs.select(
        F.col(id_col).alias("id"),
        F.transform(T.distinct_tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("hset"),
    )
    if df_prune is not None:
        # Document-frequency shingle pruning (the template-heavy-corpus
        # mitigation documented in SCALE.md §4/§11): tokens appearing
        # in more than df_prune of docs carry no near-dup signal (they
        # are boilerplate/template mass) but generate the band
        # collisions that make collision-floor corpora quadratic —
        # drop them BEFORE hashing/banding. Jaccard semantics then
        # apply to the PRUNED sets (recall traded explicitly; audit
        # with dedup_lsh_recall_audit). Costs one extra token-stream
        # shuffle (the df aggregate) + one re-agg — both corpus passes
        # a production pipeline already budgets for (CCNet/Dolma run
        # exactly this DF pass). Docs whose sets prune to empty are
        # excluded (Jaccard undefined; matches the 0/0 oracle NULL).
        toks = hs.select("id", F.explode("hset").alias("h"))
        n_docs = hs.agg(F.count(F.lit(1)).alias("n_docs"))
        keep = (
            toks.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") <= F.lit(df_prune) * F.col("n_docs"))
            .select("h")
        )
        hs = (
            toks.join(keep, "h")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list("h")).alias("hset"))
        )
    if min_set > 1:
        # tiny sets make Jaccard degenerate (two docs sharing one rare
        # token are "identical"); standard floor after DF pruning
        hs = hs.filter(F.size("hset") >= min_set)
    # group identical token sets; the group key IS the set.
    # MATERIALIZED ONCE (r11, guide §3.3 "materialise an intermediate
    # result"): five consumers read this table — the two band-join
    # sides, the two verify join-backs (ga/gb), and the same-set
    # `within` branch — and without a checkpoint each one re-executes
    # the tokenize+hash+collect_list collapse (AQE reuses the
    # repartition Exchange, but the aggregate above it re-runs per
    # consumer; measured 5x ObjectHashAggregate in the r11 plan
    # audit, plans/r11/dedup_minhash_lsh_before.txt). At 100 TB this
    # is the standard unique-sets materialization every dedup
    # pipeline persists (reliable checkpoint dir there instead).
    groups = (
        hs.repartition("hset")
        .groupBy("hset")
        .agg(F.array_sort(F.collect_list("id")).alias("members"))
        .localCheckpoint(eager=False)
    )
    reps = groups.select(F.element_at("members", 1).alias("id"), "hset", "members")

    # --- LSH over unique sets only --------------------------------
    rows_per_band = num_perm // bands
    idx_seq = F.sequence(F.lit(0), F.lit(num_perm - 1))
    band_seq = F.sequence(F.lit(0), F.lit(bands - 1))
    # Position-tagged arrays: tag = value * width + index, so positional
    # agreement between two rows becomes plain set intersection/overlap
    # (native, codegen'd) instead of per-element lambda evaluation.
    # Real minhash values are in [0, 2^31) (mod-p); sentinel MAGNITUDES
    # also stay < 2^31 (position 0 is p itself; positions >= 1 wrap
    # int32-negative — see _minhash_from_hashes_col), so
    # value*num_perm+i fits a long with no overflow under ANSI.
    tsig = F.zip_with(
        F.col("sig"), idx_seq, lambda v, i: v * num_perm + i
    )
    bh = _band_hashes(F.col("sig"), bands, rows_per_band)
    tbh = F.zip_with(bh, band_seq, lambda v, i: v.cast("long") * bands + i)
    # Explode a LITERAL band-index sequence and pick the band hash out
    # of the materialized `tbh` array. Exploding the computed array
    # directly (posexplode(bh)) makes the optimizer infer a
    # `size(bh) > 0` filter and push it through the aggregate to the
    # file scan — where it re-evaluates the entire interpreted
    # signature expression per raw document (measured: turns an 8 s
    # run into minutes). Predicates on a generated literal column
    # cannot sink below the Generate, so sig/bh stay computed once per
    # unique set.
    sig = reps.select(
        "id",
        F.size("hset").alias("sz"),
        _minhash_kernel(num_perm)(F.col("hset")).alias("sig"),
    )
    banded = (
        sig.withColumn("tsig", tsig)
        .withColumn("tbh", tbh)
        .select(
            "id",
            "sz",
            "tsig",
            "tbh",
            F.explode(band_seq).alias("band_idx"),
        )
        .withColumn("band_hash", F.element_at(F.col("tbh"), F.col("band_idx") + 1))
        # earlier-band prefix computed ONCE per banded row (r11): the
        # first-matching-band predicate needs only tbh[0..band_idx);
        # slicing inside the join condition re-allocated both prefixes
        # per COLLIDING PAIR (19M evaluations at sf0.1 vs 63k banded
        # rows). The full tbh is dropped from the join payload, so
        # shuffle bytes shrink too (prefix averages bands/2 tags).
        .withColumn("tbh_pre", F.slice(F.col("tbh"), 1, F.col("band_idx")))
        .drop("tbh")
    )
    left, right = banded.alias("l"), banded.alias("r")
    # exact size prune INSIDE the band join: jac(A,B) <= min/max of the
    # set sizes, so pairs whose size ratio can't reach the threshold
    # die in the join — integer compare, no recall loss.
    size_ok = (
        F.least(F.col("l.sz"), F.col("r.sz")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("l.sz"), F.col("r.sz"))
    )
    # first-matching-band: no earlier tagged band hash agrees -> each
    # pair is emitted exactly once across all bands (replaces
    # distinct()); prefixes precomputed per banded row, see above
    first_band = ~F.arrays_overlap(F.col("l.tbh_pre"), F.col("r.tbh_pre"))
    # signature-level pre-verify (see docstring for the 8σ bound)
    sigma = (threshold * (1.0 - threshold) / num_perm) ** 0.5
    pre_cut = max(0.0, threshold - max(0.25, 8.0 * sigma))
    est_ok = F.size(F.array_intersect(F.col("l.tsig"), F.col("r.tsig"))) >= F.lit(
        int(pre_cut * num_perm)
    )
    cond = (
        (F.col("l.band_idx") == F.col("r.band_idx"))
        & (F.col("l.band_hash") == F.col("r.band_hash"))
        & (F.col("l.id") < F.col("r.id"))
        & size_ok
        & first_band
        & est_ok
    )
    cands = (
        # identical subtrees + shuffle_hash -> the second Exchange on
        # the band keys is reused; signatures computed once.
        left.hint("shuffle_hash")
        .join(right, cond)
        .select(F.col("l.id").alias("rid_a"), F.col("r.id").alias("rid_b"))
    )
    ga = reps.select(F.col("id").alias("rid_a"), F.col("hset").alias("ha"), F.col("members").alias("ma"))
    gb = reps.select(F.col("id").alias("rid_b"), F.col("hset").alias("hb"), F.col("members").alias("mb"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| (the sets are distinct arrays), so
    # ONE array_intersect pass per candidate instead of intersect+union
    # — the verify stage is the dominant cost and this halves it.
    cross = (
        cands.join(ga, "rid_a")
        .join(gb, "rid_b")
        .withColumn("inter", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.size("ha") + F.size("hb") - F.col("inter")),
        )
        .filter(F.col("jac") >= threshold)
        .select(F.explode("ma").alias("ida"), "mb", "jac")
        .select("ida", F.explode("mb").alias("idb"), "jac")
    )
    # --- same-set pairs: jac is exactly 1.0 ------------------------
    within = (
        groups.filter(F.size("members") > 1)
        .select(F.explode("members").alias("ida"), "members")
        .select("ida", F.explode("members").alias("idb"))
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("jac", F.lit(1.0))
    )
    pairs = cross.unionByName(within) if threshold <= 1.0 else cross
    return pairs.select(
        F.least("ida", "idb").alias("doc_id_a"),
        F.greatest("ida", "idb").alias("doc_id_b"),
        F.round("jac", 4).alias("jac"),
    )


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over pair edges)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iters: int = 50,
    algorithm: str = "min_label",
) -> DataFrame:
    """(id, component) assignment over an undirected pair graph —
    the step a dedup pipeline needs AFTER pair generation: near-dup
    PAIRS say who matches whom; the CLUSTER says which rows are one
    logical document (keep min-id, drop the rest).

    Two algorithms behind one surface (identical output — component
    id = min member id):

    - ``min_label`` (default): every node starts as its own label;
      each round takes the min over neighbors; fixpoint in
      O(diameter) rounds. Near-dup graphs are clique-ish (diameter
      2-4), so this loops 3-5 times, each round ONE
      shuffle-on-node-id join + a map-side-combined min.
    - ``star``: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — O(log n)
      rounds on ANY graph shape, the adversarial-diameter path: a
      chain of 1000 nodes converges in ~8 alternations where
      min_label needs ~1000 rounds. Two shuffles per round; pick it
      when the pair graph may contain long chains (e.g. transitive
      near-dup at a loose threshold).

    The driver loop is over ROUNDS, never over data. Lineage is
    truncated per round with localCheckpoint (at cluster scale point
    checkpointing at a reliable dir instead); convergence is
    witnessed by a monotone label-sum — labels only ever decrease, so
    an unchanged sum IS the fixpoint, one cheap agg instead of a
    change-count join.
    """
    if algorithm == "star":
        return _connected_components_star(pairs, id_a, id_b, max_iters)
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = pairs.select(
        F.col(id_a).cast("long").alias("s"), F.col(id_b).cast("long").alias("d")
    )
    edges = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint(eager=False)  # lazy: pinned at first action (r11)
    )
    labels = edges.select(F.col("s").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    prev_sum = None
    for _ in range(max_iters):
        prop = edges.join(labels, edges["d"] == labels["id"]).select(
            edges["s"].alias("id"), "comp"
        )
        labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            # lazy (r11): the convergence-witness collect right below
            # is the first action, so the checkpoint materializes as
            # part of that job instead of running its own eager job
            # per round (the pin itself — one boundary draw for all
            # consumers — is unchanged)
            .localCheckpoint(eager=False)
        )
        s = labels.agg(F.sum("comp").alias("t")).collect()[0]["t"]
        if s == prev_sum:
            break
        prev_sum = s
    return labels


def _connected_components_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iters: int
) -> DataFrame:
    """Alternating large-star/small-star — O(log n) rounds.

    Per alternation (one large-star + one small-star):

    - large-star: for each node u with symmetric neighborhood Γ(u),
      connect every STRICTLY LARGER neighbor to m = min(Γ(u) ∪ {u}).
    - small-star: orient edges high→low; for each node h connect all
      its smaller neighbors AND h itself to m = min(Γ⁻(h)).

    Both steps preserve connectivity and only move edges toward
    smaller ids; at fixpoint the graph is a star forest whose centers
    are the component minima. Convergence witness: Σ over nodes of
    their current best-known label (monotone non-increasing — the
    same witness graphframes uses for this algorithm).
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("s"), F.col(id_b).cast("long").alias("d")
    ).filter(F.col("s") != F.col("d"))
    # unordered pairs, s < d
    edges = (
        e.select(F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)  # lazy: pinned at first action (r11)
    )
    nodes = (
        edges.select(F.col("s").alias("id"))
        .unionByName(edges.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)  # lazy: pinned at first action (r11)
    )
    prev_sum = None
    for _ in range(max_iters):
        # --- large star over symmetric neighborhoods
        sym = edges.unionByName(
            edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        mins = sym.groupBy("s").agg(F.min("d").alias("mnd"))
        mins = mins.select("s", F.least("s", "mnd").alias("mn"))
        ls = (
            sym.filter(F.col("d") > F.col("s"))
            .join(mins, "s")
            # mn <= s < d, so (mn, d) is already ordered
            .select(F.col("mn").alias("s"), "d")
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        # --- small star over high->low orientation (ls pairs have s < d)
        hi = ls.select(F.col("d").alias("h"), F.col("s").alias("l"))
        mins2 = hi.groupBy("h").agg(F.min("l").alias("mn"))
        joined = hi.join(mins2, "h")
        edges = (
            joined.select(F.col("mn").alias("s"), F.col("l").alias("d"))
            .unionByName(joined.select(F.col("mn").alias("s"), F.col("h").alias("d")))
            .filter(F.col("s") != F.col("d"))
            .distinct()
            # lazy (r11): the witness collect below is the first
            # action and materializes the pin in the same job
            .localCheckpoint(eager=False)
        )
        # best-known label per node (centers label themselves)
        lbl = nodes.join(
            edges.groupBy("d").agg(F.min("s").alias("mn")),
            nodes["id"] == F.col("d"),
            "left",
        ).select(F.least("id", F.coalesce("mn", "id")).alias("comp"))
        s_now = lbl.agg(F.sum("comp").alias("t")).collect()[0]["t"]
        if s_now == prev_sum:
            break
        prev_sum = s_now
    final = nodes.join(
        edges.groupBy("d").agg(F.min("s").alias("mn")),
        nodes["id"] == F.col("d"),
        "left",
    ).select("id", F.least("id", F.coalesce("mn", "id")).alias("comp"))
    return final


def keep_best_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    quality: F.Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """(cluster_id, kept_doc_id, n_members): the SELECTION step of a
    near-dup pipeline — one canonical document per cluster, chosen by
    ``quality`` (max wins, ties break to the smallest id).

    ``dedup_cluster_assign`` answers *which rows are one document*;
    real pipelines then keep the BEST member (longest, highest quality
    score, newest crawl), not blindly the min-id one — dropping the
    cleaner copy because its id is larger is a silent quality loss at
    corpus scale. Docs untouched by any pair are their own singleton
    cluster, so the output partitions the input corpus exactly.

    Shape: components over the pair graph (pair-sized, tiny relative
    to the corpus), one LEFT join of the corpus against the assignment
    on id, then ONE hash aggregation — ``max_by`` over a (quality, -id)
    struct, no per-cluster sort. The corpus shuffles once, on the
    cluster key.
    """
    comps = connected_components(pairs)
    base = docs.select(F.col(id_col).cast("long").alias("did"), quality.alias("q"))
    assigned = base.join(comps, base["did"] == comps["id"], "left").select(
        "did", "q", F.coalesce("comp", F.col("did")).alias("cluster_id")
    )
    return assigned.groupBy("cluster_id").agg(
        F.max_by("did", F.struct(F.col("q"), (-F.col("did")).alias("nid"))).alias(
            "kept_doc_id"
        ),
        F.count(F.lit(1)).alias("n_members"),
    )


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------


def incremental_near_dup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(batch_id, corpus_id, jac) for every batch doc that is a
    near-dup of an existing corpus doc — the INGEST-time dedup shape.

    A growing corpus must not re-run all-corpus self-dedup per batch:
    the corpus side here is the reusable LSH *index* (id, band hashes,
    token hash-set); each incoming batch computes its own signatures
    map-only and probes the index with a band equi-join. Per-batch
    cost is O(batch × bands) join rows against an index keyed
    uniformly — independent of corpus row count beyond the shuffle's
    bucket width. In production the projected index columns are
    persisted (written bucketed by band_hash via
    sources/bucketing.py); rebuilding them here keeps the operator
    self-contained at test scale without changing the plan shape.

    The same candidate-stage discipline as :func:`minhash_dedup_pairs`
    applies PER SIDE: collapse identical token sets first (a template
    shared by k_batch batch docs and k_corpus corpus docs would
    otherwise put k_batch x k_corpus rows through EVERY band bucket —
    measured 10x slowdown and a skewed long-tail task at sf0.1), band
    the unique sets, prune in-join with the size bound / first-band /
    signature pre-verify native conditions, exact-verify rep pairs
    only, and expand members x members at the end (output-sized).
    Cross-side identical sets need no special case: their signatures
    collide in band 0 and exact-verify at jac = 1.0.
    """
    # Each side's rep table feeds BOTH the banding and the verify
    # join-back; materialize once (r11, guide §3.3) so the
    # tokenize+hash+collect_list collapse is not re-executed per
    # consumer. The persisted-index path (probe_band_index) reads the
    # corpus side from a bucketed table and needs no pin.
    rb = _inc_reps(batch, "b", id_col, text_col).localCheckpoint(eager=False)
    rc = _inc_reps(corpus, "c", id_col, text_col).localCheckpoint(eager=False)
    bb = _inc_banded(rb, "b", num_perm, bands)
    bc = _inc_banded(rc, "c", num_perm, bands)
    return _probe_pairs(rb, bb, rc, bc, threshold, num_perm)


def _inc_reps(df: DataFrame, side: str, id_col: str, text_col: str) -> DataFrame:
    """Distinct-token-set representatives for one side (see
    incremental_near_dup_pairs: identical sets collapse BEFORE
    banding)."""
    hs = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            T.distinct_tokens(F.col(text_col)), lambda t: F.xxhash64(t)
        ).alias("hset"),
    )
    return (
        hs.groupBy("hset")
        .agg(F.array_sort(F.collect_list("id")).alias("members"))
        .select(
            F.element_at("members", 1).alias(f"{side}_rid"),
            F.col("hset").alias(f"{side}_hset"),
            F.col("members").alias(f"{side}_members"),
        )
    )


def _inc_banded(rp: DataFrame, side: str, num_perm: int, bands: int) -> DataFrame:
    """Position-tagged signatures + exploded band rows for one side.
    band_hash is tagged with its band index (v*bands + i), so it is
    globally unique per band and suffices alone as the join/bucket
    key."""
    rows_per_band = num_perm // bands
    band_seq = F.sequence(F.lit(0), F.lit(bands - 1))
    sig = rp.select(
        f"{side}_rid",
        F.size(f"{side}_hset").alias(f"{side}_sz"),
        _minhash_kernel(num_perm)(F.col(f"{side}_hset")).alias("sig"),
    )
    tsig = F.zip_with(
        F.col("sig"),
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda v, i: v * num_perm + i,
    )
    tbh = F.zip_with(
        _band_hashes(F.col("sig"), bands, rows_per_band),
        band_seq,
        lambda v, i: v.cast("long") * bands + i,
    )
    return (
        sig.withColumn(f"{side}_tsig", tsig)
        .withColumn(f"{side}_tbh", tbh)
        .select(
            f"{side}_rid",
            f"{side}_sz",
            f"{side}_tsig",
            f"{side}_tbh",
            F.explode(band_seq).alias(f"{side}_band_idx"),
        )
        .withColumn(
            "band_hash",
            F.element_at(F.col(f"{side}_tbh"), F.col(f"{side}_band_idx") + 1),
        )
        # earlier-band prefix once per banded row (r11, same device as
        # minhash_dedup_pairs — the probe join otherwise re-slices
        # both prefixes per colliding pair); full tbh dropped from the
        # join payload
        .withColumn(
            f"{side}_tbh_pre",
            F.slice(F.col(f"{side}_tbh"), 1, F.col(f"{side}_band_idx")),
        )
        .drop(f"{side}_tbh")
    )


def _probe_pairs(
    rb: DataFrame,
    bb: DataFrame,
    rc: DataFrame,
    bc: DataFrame,
    threshold: float,
    num_perm: int,
) -> DataFrame:
    """Band probe + in-join pruning + exact verify + member expansion —
    shared by the in-memory incremental path and the persisted-index
    probe. Joins on band_hash ALONE (it is band-index-tagged, so equal
    hashes imply equal band), which lets a corpus index bucketed by
    band_hash satisfy the join distribution with no exchange."""
    sigma = (threshold * (1.0 - threshold) / num_perm) ** 0.5
    pre_cut = max(0.0, threshold - max(0.25, 8.0 * sigma))
    size_ok = (
        F.least(F.col("b_sz"), F.col("c_sz")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("b_sz"), F.col("c_sz"))
    )
    # equal tagged band_hash implies equal band index, so each side
    # slices by its OWN band position (prefixes precomputed per banded
    # row in _inc_banded)
    first_band = ~F.arrays_overlap(F.col("b_tbh_pre"), F.col("c_tbh_pre"))
    est_ok = F.size(F.array_intersect(F.col("b_tsig"), F.col("c_tsig"))) >= F.lit(
        int(pre_cut * num_perm)
    )
    cands = (
        bb.hint("shuffle_hash")
        .join(bc, "band_hash")
        .filter(size_ok & first_band & est_ok)
        .select("b_rid", "c_rid")
    )
    inter = F.size(F.array_intersect("b_hset", "c_hset"))
    jac = inter.cast("double") / (F.size("b_hset") + F.size("c_hset") - inter)
    return (
        cands.join(rb, "b_rid")
        .join(rc, "c_rid")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select(F.explode("b_members").alias("batch_doc_id"), "c_members", "jac")
        .select(
            "batch_doc_id",
            F.explode("c_members").alias("corpus_doc_id"),
            F.round("jac", 4).alias("jac"),
        )
    )


def build_band_index(
    corpus: DataFrame,
    name: str,
    num_perm: int = 64,
    bands: int = 16,
    num_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the reusable LSH index of a corpus as TWO bucketed
    catalog tables: ``{name}_bands`` bucketed by band_hash (the probe
    join key) and ``{name}_reps`` bucketed by c_rid (the verify join
    key).

    This is the production form of incremental ingest-time dedup: the
    corpus-side signature work is paid ONCE at index build; every
    subsequent batch probe joins against the bucketed scans with no
    corpus-side exchange (tests/test_bucketing.py pins the plan). On a
    growing corpus, append each accepted batch's band rows to the same
    bucketed tables.
    """
    from ..sources.bucketing import write_bucketed

    rc = _inc_reps(corpus, "c", id_col, text_col)
    bc = _inc_banded(rc, "c", num_perm, bands)
    write_bucketed(bc, f"{name}_bands", ["band_hash"], num_buckets, ["band_hash"])
    write_bucketed(rc.select("c_rid", "c_hset", "c_members"), f"{name}_reps", ["c_rid"], num_buckets, ["c_rid"])


def probe_band_index(
    batch: DataFrame,
    name: str,
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(batch_doc_id, corpus_doc_id, jac) — identical semantics to
    :func:`incremental_near_dup_pairs`, but the corpus side comes from
    the persisted bucketed index written by :func:`build_band_index`:
    batch-side cost only, no corpus recompute, no corpus-side shuffle.
    """
    spark = batch.sparkSession
    bc = spark.table(f"{name}_bands")
    rc = spark.table(f"{name}_reps")
    rb = _inc_reps(batch, "b", id_col, text_col)
    bb = _inc_banded(rb, "b", num_perm, bands)
    return _probe_pairs(rb, bb, rc, bc, threshold, num_perm)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits(toks: F.Column, nbits: int = 64, bit_source: str = "xxhash64") -> F.Column:
    """SimHash as an array<int> of nbits 0/1 entries, row-local.

    Bit i is 1 iff more token hashes have bit i set than unset. Kept
    as an int array (not packed into a bigint) to dodge sign issues
    and keep hamming distance a zip_with sum. All row-local, one
    nested higher-order expression — constant codegen size regardless
    of nbits.

    bit_source picks the token-hash schedule:

    - ``xxhash64`` (default): bit i of a token = bit i%64 of
      xxhash64(token, seed=i//64). One 64-bit hash per token per 64
      bits — the production path (small expression tree, cheap
      codegen, JVM-native hash).
    - ``md5``: bit i = bit (3 - i%4) of hex digit i//4 of md5(token).
      Slower (hex-digit conv per nibble) but reproducible in an
      external engine — the DuckDB differential-oracle variant
      (`dedup_simhash_md5`).
    """
    n = F.size(toks)
    if bit_source == "xxhash64":
        if nbits % 64 != 0 or not 0 < nbits <= 256:
            raise ValueError("xxhash64 bit schedule needs nbits a multiple of 64 in (0, 256]")
        idx = F.sequence(F.lit(0), F.lit(nbits - 1))
        tokbits = F.transform(
            toks,
            lambda t: F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(nbits // 64 - 1)),
                    # seed via word-index suffix: one hash per 64-bit word
                    lambda w: _word_bits(F.xxhash64(t, w)),
                )
            ),
        )
    elif bit_source == "md5":
        if nbits % 4 != 0 or not 0 < nbits <= 128:
            raise ValueError("md5 bit schedule needs nbits a multiple of 4 in (0, 128]")
        # per token: md5 hex (computed ONCE — outer transform) -> nbits/4
        # digit values -> nbits 0/1 entries
        tokbits = F.transform(
            F.transform(toks, lambda t: F.md5(t)),
            lambda m: F.flatten(
                F.transform(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(nbits // 4)),
                        lambda p: F.conv(F.substring(m, p, F.lit(1)), 16, 10).cast("int"),
                    ),
                    lambda v: F.array(
                        F.shiftright(v, 3).bitwiseAND(F.lit(1)),
                        F.shiftright(v, 2).bitwiseAND(F.lit(1)),
                        F.shiftright(v, 1).bitwiseAND(F.lit(1)),
                        v.bitwiseAND(F.lit(1)),
                    ),
                )
            ),
        )
    else:
        raise ValueError(f"unknown bit_source {bit_source!r}")
    counts = F.aggregate(
        tokbits,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return F.transform(counts, lambda c: (c * 2 > n).cast("int"))


def _word_bits(h: F.Column) -> F.Column:
    """64 LSB-first 0/1 ints from a bigint."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(63)), lambda i: F.bit_get(h, i).cast("int")
    )


def hamming(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0), lambda acc, x: acc + x
    )


def simhash_dedup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 64,
    bands: int = 8,
    bit_source: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Candidates come from matching any of `bands` bit-slices exactly
    (pigeonhole: distance <= bands-1 guarantees a matching band; with
    8 bands this is exact for max_hamming <= 7). Verify = hamming on
    the full bit array. ``bit_source`` as in :func:`simhash_bits` —
    xxhash64 production default, md5 for the DuckDB-oracle variant.
    """
    width = nbits // bands
    sig = docs.select(
        F.col(id_col).alias("id"),
        simhash_bits(T.tokens(F.col(text_col)), nbits, bit_source).alias("bits"),
    )
    banded = sig.select(
        "id",
        "bits",
        F.posexplode(
            F.array(*[F.hash(F.slice("bits", b * width + 1, width), F.lit(b)) for b in range(bands)])
        ).alias("band_idx", "band_hash"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("doc_id_a"),
            F.col("r.id").alias("doc_id_b"),
            hamming(F.col("l.bits"), F.col("r.bits")).alias("hd"),
        )
        .distinct()
        .filter(F.col("hd") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dedup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs (a < b) with cosine similarity >= threshold.

    Brute-force form; at scale feed this the bucketed candidates from
    operators/similarity.py (random-hyperplane LSH) instead of the
    full cross join.
    """
    # unit-normalize below the join: per-pair cost is one dot product
    a = emb.select(F.col(id_col).alias("vec_id_a"), V.unit(F.col(vec_col)).alias("va"))
    b = emb.select(F.col(id_col).alias("vec_id_b"), V.unit(F.col(vec_col)).alias("vb"))
    cos = V.dot(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round("cos", 4).alias("cos"))
    )


def _mix64(x: int) -> int:
    """splitmix64 finalizer (public-domain constant schedule)."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _hyperplane_matrix(nbits: int, dim: int):
    """Deterministic (nbits, dim) hyperplane matrix from a splitmix64
    schedule — no stored state, same on every executor."""
    import numpy as np

    return np.array(
        [
            [(_mix64(j * 1_000_003 + d) % 2_000_003) / 1_000_001.5 - 1.0 for d in range(dim)]
            for j in range(nbits)
        ]
    )


def _hyperplane_bits_udf(nbits: int, dim: int):
    """Arrow-batched sign-bit projection: one numpy matmul per batch.

    This is the deliberate Pandas-UDF exception: a dense (rows x dim)
    @ (dim x nbits) projection has no efficient Column form — Spark's
    higher-order functions evaluate interpreted (no codegen), measured
    ~10M flop/s, vs numpy's vectorized matmul. The UDF is stateless
    and deterministic; the matrix is rebuilt per executor from the
    integer schedule."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    planes_t = _hyperplane_matrix(nbits, dim).T  # (dim, nbits)

    @pandas_udf("array<int>")
    def bits(v: pd.Series) -> pd.Series:
        null_mask = v.isna()
        safe = v.copy()
        if null_mask.any():
            safe[null_mask] = pd.Series([[0.0] * planes_t.shape[0]] * int(null_mask.sum()))
        m = np.vstack(safe.to_numpy())  # (n, dim)
        s = (m @ planes_t >= 0).astype("int32")
        return pd.Series([row for row in s])

    return bits


def embedding_lsh_dedup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 256,
    bands: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup at scale: random-hyperplane LSH candidates,
    exact-cosine verify.

    P(two vectors agree on one sign bit) = 1 - angle/pi, so near-dup
    pairs (angle -> 0) collide in many of the `bands` bit-slices while
    the n² bulk never meets. Band WIDTH sets the candidate budget: at
    the default width 16 a random pair collides in a band w.p.
    0.5^16 ≈ 1.5e-5 (≈2.4e-4 over 16 bands — ~500 candidate pairs per
    2000 random vectors, measured), where width 8 produced 140k (7% of
    all pairs — collapsing toward all-pairs, unusable at 10^9 rows).
    Recall at width 16: a cos≥0.99 pair (p_bit≈0.955) misses all 16
    bands w.p. (1-0.955^16)^16 ≈ 1e-4; EXACT duplicates have identical
    sign bits and can never be missed. For borderline thresholds
    (0.90-0.95) raise `bands` (more, same-width slices) rather than
    shrinking width. Signature + banding are map-only; the band
    self-join shuffles uniform keys; the verify joins pull unit
    vectors for candidate pairs only. Exact-form twin:
    :func:`embedding_dedup_pairs` (the DuckDB-oracle surface).
    """
    width = nbits // bands
    if dim is None:
        # dimension sniff costs one tiny driver job; pass `dim` on a
        # 100 TB input to keep the plan job-free until the real run
        dim_row = emb.select(F.size(vec_col).alias("d")).first()
        dim = int(dim_row["d"]) if dim_row else 0
    uv = emb.select(F.col(id_col).alias("id"), V.unit(F.col(vec_col)).alias("uv"))
    bits_udf = _hyperplane_bits_udf(nbits, dim)
    # no repartition: signature + banding ride the scan's own
    # partitioning (map-only); a shuffle here would move the full
    # vector table once for nothing at scale.
    # Pinned (r11): four consumers (both band-join sides and both
    # verify join-backs, which read the unit vectors) would otherwise
    # re-run the hyperplane projection and unit-normalization each —
    # this is the signature table an ANN pipeline materializes.
    sig = uv.select(
        "id", "uv", bits_udf(F.col("uv")).alias("bits")
    ).localCheckpoint(eager=False)
    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(F.slice("bits", b * width + 1, width), b),
            )
        ).alias("band_idx", "band_hash"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    cands = (
        left.hint("shuffle_hash")
        .join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("vec_id_a"), F.col("r.id").alias("vec_id_b"))
        .distinct()
    )
    return (
        # verify join-backs read the PINNED signature table (its uv
        # column), not the raw scan — no re-normalization per side
        cands.join(sig.select(F.col("id").alias("vec_id_a"), F.col("uv").alias("va")), "vec_id_a")
        .join(sig.select(F.col("id").alias("vec_id_b"), F.col("uv").alias("vb")), "vec_id_b")
        .withColumn("cos", V.dot(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("vec_id_a", "vec_id_b", F.round("cos", 4).alias("cos"))
    )


# ---------------------------------------------------------------------------
# chunk-level corpus dedup (C4-style repeated-span removal + rebuild)
# ---------------------------------------------------------------------------


def chunk_dedup_rebuild(
    docs: DataFrame,
    chunk_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove globally repeated chunks and rebuild each document — the
    span-level counterpart of document dedup (C4 dropped repeated
    3-sentence spans; CCNet dedups on paragraph hashes). A chunk
    survives only at its GLOBAL first occurrence (lowest (doc_id,
    position)); every later verbatim repetition — boilerplate, license
    headers, navigation chrome — is cut out of its document.

    Output: (doc_id, clean_text, n_chunks, n_removed) for every input
    doc; a fully-boilerplate doc comes back with clean_text = ''.

    Shape at 100 TB: chunking is row-local (tokens -> fixed
    ``chunk_tokens`` slices); the dedup decision is ONE window over
    the 64-bit chunk hash (min-struct, no ordering sort), and the
    rebuild is ONE groupBy(doc_id) — two shuffles total, both on
    uniform keys (hash / doc id), payload = chunk text once each.
    min(struct) instead of row_number avoids a per-bucket sort and
    keeps the window agg frame-less.
    """
    from pyspark.sql import Window

    toks = T.tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunk_arr = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "),
    )).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        F.col(id_col), F.posexplode_outer(chunk_arr).alias("cidx", "chunk")
    )
    w = Window.partitionBy(F.xxhash64("chunk"))
    kept = (
        exploded.filter(F.col("chunk").isNotNull())
        .withColumn("first", F.min(F.struct(id_col, "cidx")).over(w))
        .withColumn(
            "is_first",
            (F.col(id_col) == F.col(f"first.{id_col}"))
            & (F.col("cidx") == F.col("first.cidx")),
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("is_first"), F.struct("cidx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(~F.col("is_first"), 1).otherwise(0)).cast("long").alias("n_removed"),
        )
        # docs whose every chunk was null-exploded (empty text) still appear
        .unionByName(
            docs.select(F.col(id_col)).join(
                kept.select(id_col).distinct(), id_col, "left_anti"
            ).select(
                F.col(id_col),
                F.lit("").alias("clean_text"),
                F.lit(0).cast("long").alias("n_chunks"),
                F.lit(0).cast("long").alias("n_removed"),
            )
        )
    )


# ---------------------------------------------------------------------------
# sample-audited recall (operating the dedup at scale)
# ---------------------------------------------------------------------------


def lsh_recall_report(
    docs: DataFrame,
    threshold: float = 0.9,
    sample_size: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """One-row (n_true, n_found, recall) audit of the MinHash-LSH path
    against exact ground truth on a deterministic fixed-size sample.

    At 100 TB nobody can verify dedup output globally — but a sampled
    slice is verifiable, and the audit budget must be CORPUS-SIZE-
    INDEPENDENT: a fixed-rate sample grows quadratically in the exact
    stage (0.1% of 10^10 docs is 10^7 docs -> 10^13 pairs), while a
    fixed-SIZE slice keeps the ground-truth join at sample_size²
    forever. The slice is the md5-ordered first ``sample_size`` ids —
    deterministic (reruns audit the identical slice, and the DuckDB
    differential oracle can rebuild it) yet content-independent.
    Exact all-pairs Jaccard on the slice is the truth; LSH restricted
    to the same slice must rediscover those pairs at its theoretical
    recall (1-(1-t^r)^b, ~1 at t=0.9 with 16x4 bands). Run per ingest
    batch; alert when measured recall drops below the theory line —
    the cheap canary for tokenization drift, banding bugs, or skew.

    The slice is materialized ONCE via an eager localCheckpoint
    (sample_size rows — the fixed audit budget): without it the
    corpus-wide md5-sort-limit subtree is recomputed by both the
    exact and the LSH branch, and the truth and audit counts fold
    into one aggregation job (a left join counting matches) instead
    of two actions that each recompute the exact pair set. Checkpoint
    rather than collect+createDataFrame: a driver-built LocalRelation
    invites Catalyst's ConvertToLocalRelation to constant-fold the
    whole tokenize→minhash expression tree interpreted on the driver
    (measured 15 s vs 1 s on the 300-doc slice).
    """
    spark = docs.sparkSession
    proj = docs.select(F.col(id_col), F.col(text_col))
    sample = (
        proj.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(sample_size)
        .localCheckpoint(eager=True)
    )
    exact = jaccard_pairs(
        sample, threshold=threshold, id_col=id_col, text_col=text_col
    ).select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    found = minhash_dedup_pairs(
        sample,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
    ).select(F.col("doc_id_a").alias("fa"), F.col("doc_id_b").alias("fb"))
    n_true, n_found = (
        exact.join(
            found,
            (F.col("a") == F.col("fa")) & (F.col("b") == F.col("fb")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("fa").alias("n_found"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [(n_true, n_found, round(n_found / n_true, 4) if n_true else None)],
        "n_true bigint, n_found bigint, recall double",
    )


def edge_triangle_support(
    pairs: DataFrame, id_a: str = "doc_id_a", id_b: str = "doc_id_b"
) -> DataFrame:
    """(doc_id_a, doc_id_b, support): number of triangles each
    near-dup edge participates in — |N(a) ∩ N(b)| over the undirected
    pair graph.

    Why a dedup pipeline wants this: LSH emits occasional spurious
    edges, and connected components treat every edge as gospel — one
    bad edge chains two unrelated clusters. True near-dup clusters
    are clique-ish, so real edges sit in many triangles while a
    spurious bridge sits in none; dropping support-0 edges before
    `connected_components` is the standard graph-cleanup step.

    Shape: adjacency sets per node (one agg over the pair-sized edge
    list), joined back onto edges twice, native array_intersect. All
    work is pair-graph-sized, never corpus-sized. At extreme degree
    skew swap in the degree-ordered iterator form; for this graph
    family (bounded near-dup degree) the set-intersect form is flat.
    """
    e = pairs.select(
        F.least(F.col(id_a), F.col(id_b)).cast("long").alias("a"),
        F.greatest(F.col(id_a), F.col(id_b)).cast("long").alias("b"),
    ).distinct()
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    adj = und.groupBy("a").agg(F.array_sort(F.collect_set("b")).alias("nbrs"))
    na = adj.select(F.col("a").alias("ja"), F.col("nbrs").alias("na"))
    nb = adj.select(F.col("a").alias("jb"), F.col("nbrs").alias("nb"))
    return (
        e.join(na, e["a"] == na["ja"])
        .join(nb, e["b"] == nb["jb"])
        .select(
            F.col("a").alias(id_a),
            F.col("b").alias(id_b),
            F.size(F.array_intersect("na", "nb")).cast("long").alias("support"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtering exact set-similarity join (AllPairs / PPJoin core)
# ---------------------------------------------------------------------------


def prefix_filter_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs (a < b) with word-set Jaccard >= threshold — EXACT
    recall without the O(n²) pair space, via prefix filtering
    (Chaudhuri et al. 2006; Bayardo AllPairs 2007; PPJoin 2008).

    Mechanism: order every token globally rare-first (ascending
    document frequency, token text as tiebreak). A set of size s and a
    partner with Jaccard >= t must share >= ceil(t/(1+t)·(s_a+s_b))
    tokens; combined with the size bound t·s_a <= s_b <= s_a/t that
    overlap is >= ceil(t·s), so if two sets share NO token among each
    one's first (s - ceil(t·s) + 1) ordered tokens they CANNOT reach
    the threshold. Candidates are therefore pairs sharing a PREFIX
    token — generated by exploding only prefixes and self-joining on
    the token (equi-join, never a cartesian) — then the size bound
    prunes in-join and exact Jaccard verifies on the full sets.

    vs MinHash-LSH: no recall loss to spend (LSH misses true pairs
    with s-curve probability; this misses none), at the cost of
    rare-first prefixes concentrating on LOW-df tokens — so unlike
    MinHash its candidate volume collapses on boilerplate-heavy
    corpora (hot tokens land deep past every prefix) and grows where
    corpora share rare vocabulary. The two are complementary; both
    are bucketed equi-joins at scale.

    Tokens are xxhash64'd up front, so every downstream stage — the
    df aggregate, the global order, the prefix equi-join, the exact
    verify — runs on fixed-width longs instead of strings (same
    rationale and collision-odds argument as
    :func:`minhash_dedup_pairs`: ≈ n²/2⁶⁴ per doc). The global
    rare-first order is (df, hash) — any total order with df primary
    preserves the prefix-filter guarantee.

    Candidate discipline mirrors the banded minhash join: each prefix
    row carries its doc's full PREFIX slice (≤ (1-t)·s + 1 tokens)
    position-tagged, and the join's first-matching-token condition
    (`~arrays_overlap` over the earlier-prefix slices — valid because
    both docs order tokens by the same global key) emits every pair
    exactly once, replacing a `distinct()` that would shuffle hot-token
    pairs once per shared prefix token. Jaccard then needs only ONE
    `array_intersect` per candidate: |A ∪ B| = sa + sb − |A ∩ B| with
    the sizes already riding the candidate row.

    Shuffles: token-df aggregate, order-join on token hash, per-doc
    regroup, candidate self-join on prefix token, verify join — all
    key-partitioned, no stage carries more than the exploded prefix
    stream (≈ (1-t)·corpus tokens).
    """
    hs = docs.select(
        F.col(id_col).alias("id"),
        F.transform(
            T.distinct_tokens(F.col(text_col)), lambda t: F.xxhash64(t)
        ).alias("hset"),
    )
    stream = hs.select("id", F.explode("hset").alias("h"))
    dfreq = stream.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # per doc: tokens re-sorted rare-first; prefix = s - ceil(t*s) + 1
    ordered = (
        stream.join(dfreq, "h")
        .groupBy("id")
        .agg(
            # GetArrayStructFields (native), not an interpreted
            # transform() lambda — HOF discipline (SCALE.md §9)
            F.array_sort(F.collect_list(F.struct("df", "h")))
            .getField("h")
            .alias("otoks")
        )
        .withColumn("s", F.size("otoks"))
        # round t·s to the 1e-6 grid BEFORE ceil: IEEE noise on exact
        # products (0.9·10 -> 9.000000000000002) would otherwise ceil
        # UP, shortening the prefix and silently losing recall — a
        # longer prefix is always safe, a shorter one never is
        .withColumn(
            "plen",
            F.col("s")
            - F.ceil(F.round(threshold * F.col("s"), 6)).cast("int")
            + 1,
        )
    )
    pref = ordered.select(
        "id",
        "s",
        F.slice("otoks", 1, F.col("plen")).alias("ptoks"),
        F.posexplode(F.slice("otoks", 1, F.col("plen"))).alias("pos", "h"),
    )
    a = pref.select(
        F.col("id").alias("doc_id_a"),
        F.col("s").alias("sa"),
        F.col("ptoks").alias("pa"),
        F.col("pos").alias("pos_a"),
        "h",
    )
    b = pref.select(
        F.col("id").alias("doc_id_b"),
        F.col("s").alias("sb"),
        F.col("ptoks").alias("pb"),
        F.col("pos").alias("pos_b"),
        "h",
    )
    # first-matching-token: a token h' shared by both docs and globally
    # earlier than h sits earlier in BOTH prefix arrays (same global
    # order), so overlap of the earlier-prefix slices ⇔ the pair was
    # already emitted at h' — each pair survives exactly once, no
    # distinct() shuffle of hot-token-duplicated pairs.
    first_tok = ~F.arrays_overlap(
        F.slice(F.col("pa"), 1, F.col("pos_a")),
        F.slice(F.col("pb"), 1, F.col("pos_b")),
    )
    cand = a.join(
        b,
        (a["h"] == b["h"])
        & (F.col("doc_id_a") < F.col("doc_id_b"))
        # size bound: jac >= t forces t·max(sa,sb) <= min(sa,sb);
        # epsilon guards the exact-grid boundary against IEEE
        # noise over-pruning true pairs (loose by 1e-9 = safe)
        & (F.col("sb") >= threshold * F.col("sa") - 1e-9)
        & (F.col("sa") >= threshold * F.col("sb") - 1e-9)
        & first_tok,
    ).select("doc_id_a", "doc_id_b", "sa", "sb")
    ta = hs.select(F.col("id").alias("doc_id_a"), F.col("hset").alias("ha"))
    tb = hs.select(F.col("id").alias("doc_id_b"), F.col("hset").alias("hb"))
    jac = F.col("inter").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("inter")
    )
    return (
        cand.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .withColumn("inter", F.size(F.array_intersect("ha", "hb")))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("doc_id_a", "doc_id_b", F.round("jac", 4).alias("jac"))
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood method (SNM)
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    docs: DataFrame,
    threshold: float,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo): sort the corpus
    by a blocking key, then compare each row ONLY against the next
    ``window`` rows in sort order — candidate volume is n·w by
    construction, never quadratic, with zero hashing machinery.

    The third blocking strategy beside LSH (probabilistic bucket
    collisions) and prefix-filtering (rare-token anchors): SNM's bet
    is that the KEY sorts near-duplicates adjacently (true for
    copy-with-suffix / templated-prefix corpora; false for edits in
    the first words — the recall trade is the key choice, and
    production runs union several passes over different keys).
    Default key: lowercased trimmed text, doc-id tie-break.

    Scale shape: the sort is :func:`~..operators.rank.global_rank`'s
    terasort decomposition (range-partition shuffle + per-partition
    row_number + broadcast offsets — NO single-reducer window), and
    the neighbor join keys are consecutive rank integers — perfectly
    uniform, skew-impossible. Verification reuses the hashed-token
    exact-Jaccard discipline of :func:`jaccard_pairs` (integer size
    bound before any array work, one intersect for the survivors).
    """
    from .rank import global_rank

    base = docs.select(
        F.col(id_col).alias("id"),
        (key if key is not None else F.lower(F.trim(F.col(text_col)))).alias("__key"),
        F.transform(
            T.distinct_tokens(F.col(text_col)), lambda t: F.xxhash64(t)
        ).alias("toks"),
    )
    ranked = global_rank(
        base, ["__key", "id"], rank_col="rn", num_partitions=num_partitions
    ).select("rn", "id", "toks", F.size("toks").alias("sz"))
    probe = ranked.select(
        F.col("id").alias("ida"),
        F.col("toks").alias("ta"),
        F.col("sz").alias("sa"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("__d"),
        (F.col("rn") + F.col("__d")).alias("nrn"),
    )
    cand = probe.join(
        ranked.select(
            F.col("rn").alias("nrn"),
            F.col("id").alias("idb"),
            F.col("toks").alias("tb"),
            F.col("sz").alias("sb"),
        ),
        "nrn",
    ).filter(
        # same epsilon-guarded exact size bound as jaccard_pairs
        (F.col("sb") >= threshold * F.col("sa") - 1e-9)
        & (F.col("sa") >= threshold * F.col("sb") - 1e-9)
    )
    jac = F.col("inter").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("inter")
    )
    return (
        cand.withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select(
            F.least("ida", "idb").alias("doc_id_a"),
            F.greatest("ida", "idb").alias("doc_id_b"),
            F.round("jac", 4).alias("jac"),
        )
    )
