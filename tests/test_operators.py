"""Value-level unit tests for operators whose registered queries can't
exercise them end-to-end on the synthetic data (e.g. the embeddings
table has no true near-dups, so the LSH dedup query legitimately
returns empty — here we construct clusters and check recall)."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    # 10 clusters x 6 vectors: base direction + small deterministic
    # perturbation -> within-cluster cosine > 0.99, across < 0.6
    import random

    rng = random.Random(1234)
    rows = []
    vid = 0
    for c in range(10):
        base = [rng.gauss(0, 1) for _ in range(32)]
        nb = math.sqrt(sum(x * x for x in base))
        base = [x / nb for x in base]
        for _ in range(6):
            vec = [x + rng.gauss(0, 0.02) for x in base]
            rows.append((vid, [float(x) for x in vec]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.slow  # rehearsal-class (pytest.ini): deterministic twin keeps coverage
def test_embedding_lsh_matches_bruteforce(spark, clustered_vectors):
    from easy_alterator_spark.operators.dedup import (
        embedding_dedup_pairs,
        embedding_lsh_dedup_pairs,
    )

    brute = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos"]
        for r in embedding_dedup_pairs(clustered_vectors, threshold=0.95).collect()
    }
    lsh = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos"]
        for r in embedding_lsh_dedup_pairs(clustered_vectors, threshold=0.95).collect()
    }
    assert brute, "fixture must produce near-dup pairs"
    # every cluster contributes 15 pairs
    assert len(brute) == 10 * 15
    assert lsh == brute


@pytest.mark.slow  # rehearsal-class (pytest.ini): deterministic twin keeps coverage
def test_ivf_kmeans_refinement_improves_centroids(spark, clustered_vectors):
    """Lloyd refinement must measurably improve the k-means objective
    (mean cosine of each vector to its assigned centroid) over the
    hash-sampled seed, without costing recall."""
    from pyspark.sql import functions as F

    from easy_alterator_spark.functions import vectors as V
    from easy_alterator_spark.operators.similarity import (
        assign_ivf_buckets,
        brute_force_topk,
        ivf_topk,
    )

    def mean_assign_sim(refine_iters):
        cents, assign = assign_ivf_buckets(
            clustered_vectors, num_centroids=8, refine_iters=refine_iters
        )
        j = clustered_vectors.join(
            assign, clustered_vectors.vec_id == assign.v_id
        ).join(cents, F.col("bucket") == F.col("c_id"))
        return j.select(
            F.avg(V.cosine(F.col("embedding"), F.col("cv"))).alias("m")
        ).collect()[0]["m"]

    qids = [0, 6, 12, 18, 24, 30, 36, 42, 48, 54]  # one per cluster
    brute = {
        (r["q_id"], r["n_id"])
        for r in brute_force_topk(
            clustered_vectors.filter(F.col("vec_id").isin(qids)),
            clustered_vectors,
            k=3,
        ).collect()
    }

    def recall(refine_iters):
        ivf = {
            (r["q_id"], r["n_id"])
            for r in ivf_topk(
                clustered_vectors, qids, k=3, num_centroids=8, refine_iters=refine_iters
            ).collect()
        }
        return len(ivf & brute) / len(brute)

    sim0, sim1 = mean_assign_sim(0), mean_assign_sim(1)
    assert sim1 > sim0 + 0.05  # measured: 0.758 -> 0.868 on this fixture
    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert r1 >= 0.9


@pytest.mark.slow  # rehearsal-class (pytest.ini): deterministic twin keeps coverage
def test_ivf_nprobe_recall_monotone(spark, clustered_vectors):
    """Scanning more buckets can only add candidates — recall@k must be
    non-decreasing in nprobe, and multi-probe must stay exact-correct
    (it can't fabricate neighbors: verify against brute force)."""
    from pyspark.sql import functions as F

    from easy_alterator_spark.operators.similarity import brute_force_topk, ivf_topk

    qids = [0, 12, 24, 36, 48]
    brute = {
        (r["q_id"], r["n_id"])
        for r in brute_force_topk(
            clustered_vectors.filter(F.col("vec_id").isin(qids)),
            clustered_vectors,
            k=3,
        ).collect()
    }

    def recall(nprobe):
        got = {
            (r["q_id"], r["n_id"])
            for r in ivf_topk(
                clustered_vectors, qids, k=3, num_centroids=8, nprobe=nprobe
            ).collect()
        }
        return len(got & brute) / len(brute)

    r1, r2, r_all = recall(1), recall(2), recall(8)
    assert r1 <= r2 <= r_all
    assert r_all == 1.0  # probing every bucket IS brute force


def test_bruteforce_arrow_equals_column_form(spark, clustered_vectors):
    from pyspark.sql import functions as F

    from easy_alterator_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    q = clustered_vectors.filter(F.col("vec_id").isin([0, 12, 24, 36, 48]))
    col = {
        (r["q_id"], r["n_id"], r["rank"], r["score"])
        for r in brute_force_topk(q, clustered_vectors, k=3).collect()
    }
    arrow = {
        (r["q_id"], r["n_id"], r["rank"], r["score"])
        for r in brute_force_topk_arrow(q, clustered_vectors, k=3).collect()
    }
    assert col == arrow


def test_ivf_arrow_equals_column_form(spark, clustered_vectors):
    """The Arrow deployment form and the Column verify twin must agree
    pair-for-pair (same centroids, argmax tie-breaks, and 4-decimal
    scores) — the differential pin that licenses benching the numpy
    kernel against the SQL-expressible oracle."""
    from easy_alterator_spark.operators.similarity import ivf_topk, ivf_topk_arrow

    qids = [0, 12, 24, 36, 48]
    for nprobe in (1, 2):
        col = {
            (r["q_id"], r["n_id"], r["rank"], r["score"])
            for r in ivf_topk(
                clustered_vectors, qids, k=3, num_centroids=8, nprobe=nprobe
            ).collect()
        }
        arrow = {
            (r["q_id"], r["n_id"], r["rank"], r["score"])
            for r in ivf_topk_arrow(
                clustered_vectors, qids, k=3, num_centroids=8, nprobe=nprobe
            ).collect()
        }
        assert col == arrow


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (diameter 4 — forces several propagation rounds)
    plus a separate pair and check the min-id labeling."""
    from easy_alterator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (50, 51)],
        "doc_id_a long, doc_id_b long",
    )
    got = {
        (r["id"], r["comp"]) for r in connected_components(pairs).collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10), (13, 10), (14, 10),
        (50, 50), (51, 50),
    }


def test_connected_components_star_matches_min_label(spark):
    """Star algorithm must produce identical labels on chain+islands."""
    from easy_alterator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (50, 51)],
        "doc_id_a long, doc_id_b long",
    )
    got = {
        (r["id"], r["comp"])
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10), (13, 10), (14, 10),
        (50, 50), (51, 50),
    }


@pytest.mark.slow  # rehearsal-class (pytest.ini): deterministic twin keeps coverage
def test_connected_components_star_long_chain_log_rounds(spark):
    """Chain of 1000 nodes (diameter 999): min-label would need ~999
    rounds; large-star/small-star must converge within 12 alternations
    — with max_iters=12 a slower algorithm returns WRONG labels, so
    correctness here certifies the round bound."""
    from easy_alterator_spark.operators.dedup import connected_components

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_a long, doc_id_b long"
    )
    got = {
        (r["id"], r["comp"])
        for r in connected_components(pairs, algorithm="star", max_iters=12).collect()
    }
    assert got == {(i, 0) for i in range(n)}


@pytest.mark.slow  # rehearsal-class (pytest.ini): deterministic twin keeps coverage
def test_connected_components_star_random_graphs_property(spark):
    """On random graphs both algorithms agree (star vs min-label)."""
    import random

    from easy_alterator_spark.operators.dedup import connected_components

    rng = random.Random(77)
    edges = list({(a, b) for _ in range(120)
                  for a, b in [sorted(rng.sample(range(60), 2))]})
    pairs = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    ml = {(r["id"], r["comp"]) for r in connected_components(pairs).collect()}
    st = {(r["id"], r["comp"])
          for r in connected_components(pairs, algorithm="star").collect()}
    assert st == ml


def test_redact_pii_values(spark):
    from pyspark.sql import functions as F

    from easy_alterator_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call 555-123-4567 now"),
            (2, "no pii here, just text with numbers 12345"),
            (3, "two mails: a@b.io c_d%e@f-g.com and 111.222.3333"),
        ],
        "id int, text string",
    )
    got = {r["id"]: r["red"] for r in df.select("id", redact_pii(F.col("text")).alias("red")).collect()}
    assert got[1] == "mail me at <EMAIL> or call <PHONE> now"
    assert got[2] == "no pii here, just text with numbers 12345"
    assert got[3] == "two mails: <EMAIL> <EMAIL> and <PHONE>"


def test_sample_hash_deterministic_and_stratified(spark):
    from pyspark.sql import functions as F

    from easy_alterator_spark.operators.sampling import sample_hash
    from easy_alterator_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {r["doc_id"] for r in sample_hash(docs, rate=0.3).select("doc_id").collect()}
    b = {r["doc_id"] for r in sample_hash(docs, rate=0.3).select("doc_id").collect()}
    assert a == b and 0 < len(a) < docs.count()  # deterministic, proper subset
    # membership is stable under corpus growth: a smaller corpus keeps
    # exactly the surviving subset
    half = sample_hash(docs.filter(F.col("doc_id") < 100), rate=0.3)
    assert {r["doc_id"] for r in half.select("doc_id").collect()} == {
        i for i in a if i < 100
    }
    # stratified: en rate 0 wipes en only
    strat = sample_hash(docs, rate=0.3, stratum_col="lang", stratum_rates={"en": 0.0})
    langs = {r["lang"] for r in strat.select("lang").distinct().collect()}
    assert "en" not in langs and langs


def test_pack_sequences_budget_respected(spark):
    from pyspark.sql import functions as F

    from easy_alterator_spark.operators.sampling import pack_sequences
    from easy_alterator_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("doc_id") < 200
    )
    packed = pack_sequences(docs, budget=256, partition_col="lang")
    # a pack only exceeds the budget via its LAST doc (greedy in-order
    # semantics): total minus final doc must be under budget
    by_pack = (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.sum("n_tokens").alias("tot"),
            F.max_by("n_tokens", "doc_id").alias("last_tok"),
        )
        .collect()
    )
    assert by_pack
    assert all(r["tot"] - r["last_tok"] < 256 for r in by_pack)
    # pack ids are dense from 0 per stratum
    for lang in {r["lang"] for r in by_pack}:
        ids = sorted(r["pack_id"] for r in by_pack if r["lang"] == lang)
        assert ids == list(range(len(ids)))


def test_minhash_candidates_superset_of_high_jaccard(spark):
    from pyspark.sql import functions as F

    from easy_alterator_spark.operators.dedup import (
        jaccard_pairs,
        minhash_dedup_pairs,
    )
    from easy_alterator_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("doc_id") <= 150
    )
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in minhash_dedup_pairs(docs, threshold=0.9).collect()
    }
    assert lsh == exact


def test_repetition_metrics_constructed(spark):
    from easy_alterator_spark.operators.textstats import repetition_metrics

    docs = spark.createDataFrame(
        [
            # "a b a b a b": bigrams [ab, ba, ab, ba, ab] -> 5 total,
            # 2 distinct -> dup = 0.6; top bigram "a b" 3/5 = 0.6
            (1, "a b a b a b"),
            (2, "w x y z"),          # all bigrams unique -> 0.0
            (3, "solo"),             # < 2 tokens -> no bigrams -> 0.0
            (4, ""),                 # empty -> 0.0
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert got[1]["dup_bigram_frac"] == 0.6
    assert got[1]["top_bigram_frac"] == 0.6
    # trigrams of doc1: [aba, bab, aba, bab] -> 4 total 2 distinct -> 0.5
    assert got[1]["dup_trigram_frac"] == 0.5
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.3333  # 3 bigrams, max count 1
    assert got[3]["dup_bigram_frac"] == 0.0
    assert got[4]["top_bigram_frac"] == 0.0


def test_decontaminate_constructed(spark):
    from easy_alterator_spark.operators.decontaminate import (
        contaminated_docs,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id int, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta y"),    # shares 4-gram
            (2, "alpha beta x gamma delta"),      # no full 4-gram shared
            (3, "unrelated words entirely here"),
            (4, "tiny"),                          # < n tokens
        ],
        "doc_id int, text string",
    )
    hits = {r["doc_id"]: r["shared_ngrams"] for r in
            contaminated_docs(train, bench, n=4).collect()}
    assert hits == {1: 1}
    clean = {r["doc_id"] for r in decontaminate(train, bench, n=4).collect()}
    assert clean == {2, 3, 4}


def test_incremental_near_dup_constructed(spark):
    from easy_alterator_spark.operators.dedup import incremental_near_dup_pairs

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated corpus document with other words"),
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
            (11, "fresh new batch content that matches nothing at all"),
        ],
        "doc_id int, text string",
    )
    got = {
        (r["batch_doc_id"], r["corpus_doc_id"], r["jac"])
        for r in incremental_near_dup_pairs(batch, corpus, threshold=0.9).collect()
    }
    assert got == {(10, 1, 1.0)}


def test_z_order_key_properties(spark):
    from pyspark.sql import functions as F

    from easy_alterator_spark.sources.layout import z_order_key

    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("int").alias("y")
    )
    rows = df.select(
        "x", "y", z_order_key(F.col("x"), F.col("y"), bits=4).alias("z")
    ).collect()
    zmap = {(r["x"], r["y"]): r["z"] for r in rows}
    # bijection over the 16x16 grid, exactly covering [0, 256)
    assert sorted(zmap.values()) == list(range(256))
    # interleave identities
    assert zmap[(0, 0)] == 0
    assert zmap[(1, 0)] == 1
    assert zmap[(0, 1)] == 2
    assert zmap[(15, 15)] == 255
    # locality: a unit step in x or y moves z by at most the max
    # within a 2x2 quad -> points close in (x,y) share z prefixes;
    # spot-check the standard morton curve order for the first quad
    assert [zmap[(x, y)] for y in (0, 1) for x in (0, 1)] == [0, 1, 2, 3]


def test_z_order_key_rejects_bad_bits(spark):
    import pytest
    from pyspark.sql import functions as F

    from easy_alterator_spark.sources.layout import z_order_key

    with pytest.raises(ValueError):
        z_order_key(F.lit(1), F.lit(1), bits=0)
    with pytest.raises(ValueError):
        z_order_key(F.lit(1), F.lit(1), bits=27)


def test_chunk_documents_reassembles(spark):
    """Chunks tile the token stream: sizes are `chunk` except the last
    (n mod chunk), firsts/lasts line up with the original tokens, and
    empty docs vanish."""
    from easy_alterator_spark.operators.sampling import chunk_documents

    rows = [
        (1, " ".join(f"t{i:03d}" for i in range(10))),   # 2 chunks of 4+
        (2, " ".join(f"u{i:03d}" for i in range(4))),    # exactly 1 chunk
        (3, "solo"),                                     # short
        (4, "   "),                                      # empty after tokenize
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(docs, chunk_tokens=4).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (1, 2), (2, 0), (3, 0)}
    assert [out[(1, i)]["n_tok"] for i in range(3)] == [4, 4, 2]
    assert out[(1, 0)]["first_tok"] == "t000" and out[(1, 0)]["last_tok"] == "t003"
    assert out[(1, 2)]["first_tok"] == "t008" and out[(1, 2)]["last_tok"] == "t009"
    assert out[(2, 0)]["n_tok"] == 4
    assert out[(3, 0)]["first_tok"] == out[(3, 0)]["last_tok"] == "solo"


def test_sample_weighted_clamps_out_of_contract_weights(spark):
    """w>1 keeps, w<0 / NaN / NULL drop — loud, documented behavior
    instead of a silently skewed sample."""
    from easy_alterator_spark.operators.sampling import sample_weighted

    rows = [
        (1, 5.0),            # > 1 -> clamp to 1 -> always kept
        (2, -3.0),           # < 0 -> clamp to 0 -> always dropped
        (3, float("nan")),   # NaN -> dropped (would sort above 1.0)
        (4, None),           # NULL -> dropped
        (5, 1.0),            # in-contract certainty
    ]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = {r["doc_id"] for r in sample_weighted(df, "w").collect()}
    assert kept == {1, 5}


def test_gap_fill_daily_constructed(spark):
    """Grid covers [min,max] per key; gaps carry the last daily sum
    forward; observed days pass through untouched."""
    import datetime

    from easy_alterator_spark.operators.timeseries import gap_fill_daily

    def ts(d, h=0):
        return datetime.datetime(2024, 1, d, h)

    rows = [
        (1, ts(1), 1.0), (1, ts(1, 5), 2.0),  # day1 sum 3.0
        (1, ts(4), 7.5),                       # days 2-3 are gaps
        (2, ts(2), 4.0),                       # single-day key: no gaps
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {
        (r["user_id"], str(r["d"])): r for r in gap_fill_daily(ev).collect()
    }
    assert len(got) == 5  # key1: 4 days, key2: 1 day
    assert got[(1, "2024-01-01")]["filled"] == 3.0
    assert got[(1, "2024-01-02")]["sv"] is None
    assert got[(1, "2024-01-02")]["is_gap"] is True
    assert got[(1, "2024-01-02")]["filled"] == 3.0
    assert got[(1, "2024-01-03")]["filled"] == 3.0
    assert got[(1, "2024-01-04")]["filled"] == 7.5
    assert got[(2, "2024-01-02")]["is_gap"] is False


def test_semantic_dedup_constructed(spark):
    """Two tight semantic groups + one singleton: within each group the
    lowest id survives, everything similar to it drops; the singleton
    and cross-group pairs (orthogonal) are untouched."""
    from easy_alterator_spark.operators.semantic import semantic_dedup

    def vec(base, eps, dim=8):
        v = [0.0] * dim
        v[base] = 1.0
        v[(base + 1) % dim] = eps
        return v

    rows = [
        # group A around axis 0 (ids 10, 11, 12 — mutually cos ~ 1)
        (10, vec(0, 0.0)), (11, vec(0, 0.05)), (12, vec(0, 0.1)),
        # group B around axis 3
        (20, vec(3, 0.0)), (21, vec(3, 0.08)),
        # singleton on axis 6
        (30, vec(6, 0.0)),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r for r in semantic_dedup(emb, num_clusters=3, threshold=0.9).collect()
    }
    assert len(out) == 6
    keepers = {i for i, r in out.items() if r["keep"]}
    dropped = set(out) - keepers
    # every group's minimum id survives; the singleton survives
    assert 10 in keepers and 20 in keepers and 30 in keepers
    # drops only happen among higher ids of the two groups
    assert dropped <= {11, 12, 21}
    # a dropped doc shares its bucket with its group's keeper
    for d in dropped:
        keeper = 10 if d in (11, 12) else 20
        assert out[d]["bucket"] == out[keeper]["bucket"]


def test_semantic_dedup_keep_is_complete_per_bucket(spark):
    """Within every bucket the kept set is exactly: id has no kept OR
    dropped smaller-id neighbor >= threshold (greedy-by-id contract)."""
    from easy_alterator_spark.functions import vectors as V
    from easy_alterator_spark.operators.semantic import semantic_dedup
    from easy_alterator_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = semantic_dedup(emb, num_clusters=4, threshold=0.3)
    a = out.join(emb, "vec_id").select(
        F.col("vec_id").alias("ida"), F.col("bucket").alias("ba"),
        F.col("keep").alias("ka"), F.col("embedding").alias("va"))
    b = out.join(emb, "vec_id").select(
        F.col("vec_id").alias("idb"), F.col("bucket").alias("bb"),
        F.col("embedding").alias("vb"))
    # recompute "has a smaller-id near neighbor in-bucket" independently
    flagged = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("idb") < F.col("ida"))
                  & (V.cosine(F.col("va"), F.col("vb")) >= 0.3), "left_semi")
        .select("ida").distinct()
    )
    flagged_ids = {r["ida"] for r in flagged.collect()}
    for r in out.collect():
        assert r["keep"] == (r["vec_id"] not in flagged_ids)


def test_bloom_decontaminate_matches_exact(spark):
    """The Bloom-prefiltered path must return EXACTLY the hit set of
    the broadcast-exact path (no false negatives by construction, no
    false positives past the verify join) — across n and filter sizes,
    including an aggressively small/collision-prone bitmap."""
    from easy_alterator_spark.operators import decontaminate as DC
    from easy_alterator_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    for kwargs in ({}, {"bits_per_key": 2, "num_hashes": 1}):
        exact = {
            (r["doc_id"], r["shared_ngrams"])
            for r in DC.contaminated_docs(train, bench, n=4).collect()
        }
        bloom = {
            (r["doc_id"], r["shared_ngrams"])
            for r in DC.bloom_contaminated_docs(train, bench, n=4, **kwargs).collect()
        }
        assert bloom == exact and len(exact) > 0


def test_bloom_prefilter_actually_prunes(spark):
    """On a disjoint benchmark the Bloom must kill ~all training grams
    before the verify join (that is its entire reason to exist)."""
    from easy_alterator_spark.operators.decontaminate import (
        _bloom_bitmap,
        _gram_hashes,
        _might_contain,
    )
    from easy_alterator_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = spark.createDataFrame(
        [(1, "zz yy xx ww vv uu tt ss")], ["doc_id", "text"]
    )
    bench_grams = bench.select(F.explode(_gram_hashes(F.col("text"), 4)).alias("g")).distinct()
    words, m = _bloom_bitmap(bench_grams, 16, 5)
    grams = docs.select(F.explode(_gram_hashes(F.col("text"), 4)).alias("g"))
    total = grams.count()
    survived = grams.filter(_might_contain(F.lit(words), m, 5, F.col("g"))).count()
    assert total > 1000
    assert survived < total * 0.01


def test_chunk_dedup_rebuild_constructed(spark):
    """Shared boilerplate chunk survives only in the lowest (doc_id,
    pos); unique chunks all survive; empty docs come back empty."""
    from easy_alterator_spark.operators.dedup import chunk_dedup_rebuild

    boiler = "b1 b2 b3"  # one 3-token chunk at chunk_tokens=3
    rows = [
        (1, f"{boiler} u1 u2 u3"),          # first occurrence -> keeps both
        (2, f"{boiler} v1 v2 v3"),          # later occurrence -> boiler cut
        (3, f"w1 w2 w3 {boiler}"),          # later, at position 1 -> cut
        (4, ""),                            # empty doc
        (5, boiler),                        # fully-boilerplate doc
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in chunk_dedup_rebuild(docs, chunk_tokens=3).collect()}
    assert len(out) == 5
    assert out[1]["clean_text"] == f"{boiler} u1 u2 u3" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "v1 v2 v3" and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == "w1 w2 w3" and out[3]["n_removed"] == 1
    assert out[4]["clean_text"] == "" and out[4]["n_chunks"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 1
    assert out[5]["n_chunks"] == 1


def test_pq_topk_recall_on_clustered_vectors(spark, clustered_vectors):
    """ADC over PQ codes must rank same-cluster vectors on top: with
    tight clusters (within-cos > 0.99) the compressed top-3 should
    overlap the exact brute-force top-3 heavily (codebooks are only a
    16-point sample, so demand >= 60% recall, not equality)."""
    from easy_alterator_spark.operators.similarity import brute_force_topk, pq_topk

    qids = [0, 6, 12, 18, 24]
    exact = brute_force_topk(
        clustered_vectors.filter(f"vec_id in ({','.join(map(str, qids))})"),
        clustered_vectors, k=3,
    )
    approx = pq_topk(clustered_vectors, qids, k=3, m=8)
    ex = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    ap = {(r["q_id"], r["n_id"]) for r in approx.collect()}
    assert len(ap) == 15
    assert len(ex & ap) / len(ex) >= 0.6
    # same-cluster neighbors dominate: every PQ hit shares the query's
    # cluster (ids are grouped in blocks of 6)
    same = [1 for q, n in ap if q // 6 == n // 6]
    assert sum(same) >= 12


def test_pq_codes_compress_and_are_deterministic(spark, clustered_vectors):
    from easy_alterator_spark.operators.similarity import pq_codebooks, pq_encode

    cents = pq_codebooks(clustered_vectors, m=8)
    assert len(cents) == 8 and len(cents[0]) == 16 and len(cents[0][0]) == 4
    a = {r["vec_id"]: r["codes"] for r in pq_encode(clustered_vectors, cents).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(clustered_vectors, cents).collect()}
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_arrow_equals_column_form(spark, clustered_vectors):
    """The Arrow deployment kernels must agree with the Column oracle
    variants: codes bit-for-bit, top-k pair-for-pair at 4 decimals."""
    from easy_alterator_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_encode_arrow,
        pq_topk,
        pq_topk_arrow,
    )

    cents = pq_codebooks(clustered_vectors, m=8)
    col = {r["vec_id"]: list(r["codes"]) for r in pq_encode(clustered_vectors, cents).collect()}
    arr = {r["vec_id"]: list(r["codes"]) for r in pq_encode_arrow(clustered_vectors, cents).collect()}
    assert col == arr

    qids = [0, 6, 12, 18, 24]
    ct = {
        (r["q_id"], r["n_id"], r["rank"], r["score"])
        for r in pq_topk(clustered_vectors, qids, k=3, m=8).collect()
    }
    at = {
        (r["q_id"], r["n_id"], r["rank"], r["score"])
        for r in pq_topk_arrow(clustered_vectors, qids, k=3, m=8).collect()
    }
    assert ct == at


def test_mixture_resample_hits_target_mixture(spark):
    """Kept token mass per source approximates budget * weight; absent
    sources are dropped; oversubscribed sources clamp at keep-all."""
    from easy_alterator_spark.functions import text as T
    from easy_alterator_spark.operators.sampling import mixture_resample
    from easy_alterator_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    targets = {"src1": 0.5, "src2": 0.3, "src3": 0.2}
    kept = mixture_resample(docs, targets, budget_tokens=2000)
    got = {
        r["source"]: r["nt"]
        for r in kept.groupBy("source")
        .agg(F.sum(F.size(T.tokens(F.col("text")))).alias("nt"))
        .collect()
    }
    assert set(got) <= set(targets)
    for s, w in targets.items():
        # md5-bucket sampling at ~25 docs/source is coarse: allow wide
        # but bounded deviation from the target token mass
        assert 0.3 * 2000 * w <= got[s] <= 2.0 * 2000 * w, (s, got[s])

    # a source with tokens < budget*w keeps everything (rate clamps)
    tiny = mixture_resample(docs, {"src1": 1.0}, budget_tokens=10_000_000)
    assert tiny.count() == docs.filter("source = 'src1'").count()


def test_chunk_dedup_properties_random_corpora(spark):
    """Property pass over random corpora: (1) kept chunks are globally
    unique, (2) kept + removed counts partition the original chunks,
    (3) clean_text is a subsequence of the original chunk sequence."""
    import random

    from easy_alterator_spark.operators.dedup import chunk_dedup_rebuild

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 25))))
            for i in range(40)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in chunk_dedup_rebuild(docs, chunk_tokens=4).collect()}
        orig = {i: t for i, t in rows}
        assert set(out) == set(orig)

        def chunks(t):
            toks = t.split()
            return [" ".join(toks[i:i + 4]) for i in range(0, len(toks), 4)]

        seen = set()
        for i in sorted(out):
            kept = chunks(out[i]["clean_text"]) if out[i]["clean_text"] else []
            full = chunks(orig[i])
            assert out[i]["n_chunks"] == len(full)
            assert out[i]["n_removed"] == len(full) - len(kept)
            # kept preserves original order (subsequence)
            it = iter(full)
            assert all(any(c == f for f in it) for c in kept), (trial, i)
            for c in kept:
                assert c not in seen, "kept chunk repeated globally"
            seen.update(full)  # any later occurrence of these must drop


def test_lsh_recall_report_full_recall_on_testdata(spark):
    """At t=0.9 with 16x4 bands the theoretical miss rate is ~4e-8, so
    the sampled audit must report recall == 1.0 on the synthetic
    corpus (and a deterministic rerun must agree exactly)."""
    from easy_alterator_spark.operators.dedup import lsh_recall_report
    from easy_alterator_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    r1 = lsh_recall_report(docs, threshold=0.9, sample_size=150).collect()[0]
    r2 = lsh_recall_report(docs, threshold=0.9, sample_size=150).collect()[0]
    assert r1["n_true"] > 0
    assert r1["recall"] == 1.0
    assert (r1["n_true"], r1["n_found"]) == (r2["n_true"], r2["n_found"])


class TestSubstringDedup:
    """ExactSubstr window stats on constructed docs: shared boilerplate
    spans are counted, unique prose is not, short docs are kept."""

    def _docs(self, spark):
        boiler = "alpha bravo charlie delta echo foxtrot golf hotel"
        rows = [
            (1, boiler + " one unique tail here now"),          # shares boiler with 2
            (2, "intro words lead in " + boiler),               # shares boiler with 1
            (3, "completely different text with no overlap at all ok"),
            (4, "tiny doc"),                                    # < w tokens -> no windows
            (5, boiler + " " + boiler),                         # internal repeat + cross-doc
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_stats_planted_boilerplate(self, spark):
        from easy_alterator_spark.operators import substrings as SS

        out = {
            r["doc_id"]: r
            for r in SS.window_dup_stats(self._docs(spark), w=8).collect()
        }
        # the 8-token boilerplate is exactly ONE 8-window; both carriers
        # see it as duplicated
        assert out[1]["dup_win"] >= 1 and out[2]["dup_win"] >= 1
        assert out[3]["dup_win"] == 0 and out[3]["dup_frac"] == 0.0
        assert 4 not in out  # no windows -> absent from stats
        # doc 5 (boiler twice = 16 tokens): 9 window positions, and the
        # window at offset 0 equals the one at offset 8 (both are the
        # full boilerplate) -> 8 DISTINCT windows; internal repetition
        # does not inflate n_win
        assert out[5]["n_win"] == 8

    def test_drop_keeps_short_and_unique(self, spark):
        from easy_alterator_spark.operators import substrings as SS

        kept = {
            r["doc_id"]
            for r in SS.drop_duplicated_docs(
                self._docs(spark), w=8, max_dup_fraction=0.5
            ).collect()
        }
        assert 3 in kept and 4 in kept  # unique prose + short doc survive
        # docs 1/2 share one window out of several -> frac < 0.5 -> kept
        assert 1 in kept and 2 in kept


class TestQualityQuantileFilter:
    def test_threshold_path_agrees_away_from_cut(self, spark):
        """The approx-percentile broadcast path classifies every doc
        whose score is clearly above/below the per-group quantile the
        same as the exact percent-rank form; only the boundary region
        (sketch error) may flip."""
        from easy_alterator_spark.functions import text as T
        from easy_alterator_spark.operators import sampling as SP
        from pyspark.sql import functions as F

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "source", T.quality_score(F.col("text")).alias("q"))
        )
        exact = SP.quality_percent_rank(docs, score_col="q", by="source")
        approx = SP.quality_threshold_filter(docs, quantile=0.25, score_col="q", by="source")
        kept_exact = {r["doc_id"]: r["pr"] for r in exact.collect()}
        kept_approx = {r["doc_id"] for r in approx.collect()}
        for doc, pr in kept_exact.items():
            if pr >= 0.30:
                assert doc in kept_approx, (doc, pr)
            if pr < 0.20:
                assert doc not in kept_approx, (doc, pr)

    def test_threshold_filter_broadcasts_and_never_shuffles_corpus(self, spark):
        from easy_alterator_spark.functions import text as T
        from easy_alterator_spark.operators import sampling as SP
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts
        from pyspark.sql import functions as F

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "source", T.quality_score(F.col("text")).alias("q"))
        )
        plan = formatted_plan(
            SP.quality_threshold_filter(docs, score_col="q", by="source")
        )
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 1
        assert jc["SortMergeJoin"] == 0 and jc["ShuffledHashJoin"] == 0


class TestTrainingOrder:
    def test_deterministic_and_dense(self, spark):
        from easy_alterator_spark.operators import sampling as SP

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {(r["doc_id"], r["shard"], r["pos"]) for r in SP.training_order(docs).collect()}
        b = {(r["doc_id"], r["shard"], r["pos"]) for r in SP.training_order(docs).collect()}
        assert a == b and len(a) == docs.count()
        # positions are 1..n_shard dense within each shard
        by_shard: dict = {}
        for _, s, p in a:
            by_shard.setdefault(s, []).append(p)
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), s
        assert set(by_shard) <= set(range(8))

    def test_seed_changes_permutation(self, spark):
        from easy_alterator_spark.operators import sampling as SP

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {r["doc_id"]: (r["shard"], r["pos"]) for r in SP.training_order(docs, seed="42").collect()}
        b = {r["doc_id"]: (r["shard"], r["pos"]) for r in SP.training_order(docs, seed="43").collect()}
        assert a != b  # an independent permutation, same id set
        assert set(a) == set(b)


class TestCorpusSearch:
    def _docs(self, spark):
        rows = [
            (1, "alpha beta gamma alpha beta gamma"),   # 2 hits of "alpha beta gamma"? overlapping windows
            (2, "alpha beta delta"),
            (3, "beta gamma alpha"),
            (4, "tiny"),                                 # shorter than phrase
            (5, "alpha beta gamma"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_phrase_occurrences_counts_and_short_docs(self, spark):
        from easy_alterator_spark.operators import search as SE

        out = {r["doc_id"]: r["n_hits"] for r in
               SE.phrase_occurrences(self._docs(spark), "Alpha  BETA gamma").collect()}
        # doc 1: positions 0 and 3 -> 2 occurrences; doc 5: 1; others absent
        assert out == {1: 2, 5: 1}

    def test_phrase_postings_probe_matches_direct(self, spark):
        from easy_alterator_spark.operators import search as SE

        docs = self._docs(spark)
        postings = SE.build_phrase_postings(docs, w=3)
        probed = SE.probe_phrase_postings(
            postings, ["alpha beta gamma", "beta gamma alpha"]
        )
        got = {(r["phrase"], r["doc_id"], r["n_hits"]) for r in probed.collect()}
        assert got == {
            ("alpha beta gamma", 1, 2),
            ("alpha beta gamma", 5, 1),
            ("beta gamma alpha", 1, 1),  # wraps across the repeat
            ("beta gamma alpha", 3, 1),
        }

    def test_probe_rejects_mixed_widths(self, spark):
        import pytest as _pt

        from easy_alterator_spark.operators import search as SE

        postings = SE.build_phrase_postings(self._docs(spark), w=3)
        with _pt.raises(ValueError):
            SE.probe_phrase_postings(postings, ["alpha beta gamma", "alpha beta"])

    def test_ranked_search_term_cut_is_mapside(self, spark):
        """The explode stream must be filtered to the query vocabulary
        before the tf shuffle — the plan carries the isin filter below
        the first aggregate, and df/N join back as broadcasts."""
        from easy_alterator_spark.operators import search as SE
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = SE.keyword_search_ranked(docs, ["window", "shuffle"], k=5)
        plan = formatted_plan(df)
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0 and jc["ShuffledHashJoin"] == 0
        assert jc["BroadcastHashJoin"] >= 1
        assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


class TestCorpusSnapshotDiff:
    def test_statuses_and_summary(self, spark):
        from easy_alterator_spark.operators import corpus_diff as CD
        from pyspark.sql import functions as F

        old = spark.createDataFrame(
            [(1, "same"), (2, "before"), (3, "gone")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "after"), (4, "fresh")], "doc_id long, text string"
        )
        got = {(r["doc_id"], r["status"]) for r in CD.snapshot_diff(old, new).collect()}
        assert got == {(2, "changed"), (3, "removed"), (4, "added")}

        dims = spark.createDataFrame(
            [(2, "web"), (3, "web"), (4, "book")], "doc_id long, source string"
        )
        summary = {
            (r["status"], r["source"]): r["n"]
            for r in CD.diff_summary(
                CD.snapshot_diff(old, new), dims=dims
            ).collect()
        }
        assert summary == {
            ("changed", "web"): 1,
            ("removed", "web"): 1,
            ("added", "book"): 1,
        }

    def test_diff_carries_hashes_not_text(self, spark):
        """The full-outer join's shuffle payload must be (id, md5) —
        the text column is pruned at the scan on both sides."""
        from easy_alterator_spark.operators import corpus_diff as CD
        from easy_alterator_spark.plans.audit import formatted_plan

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = formatted_plan(
            CD.snapshot_diff(docs.limit(100), docs.limit(200))
        )
        import re
        for schema in re.findall(r"ReadSchema: (\S+)", plan):
            assert "n_chars" not in schema and "lang" not in schema


class TestLmScore:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_self_score_uniform_corpus_is_flat(self, spark):
        """Identical docs: every bigram has the same count/context, so
        every doc gets the same avg_nll."""
        from easy_alterator_spark.operators import lm_score as LM

        docs = self._docs(
            spark, [(i, "the cat sat on the mat") for i in range(4)]
        )
        out = LM.lm_score(docs).collect()
        assert len(out) == 4
        assert len({r.avg_nll for r in out}) == 1
        assert all(r.n_bigrams == 5 for r in out)

    def test_short_docs_yield_no_rows(self, spark):
        from easy_alterator_spark.operators import lm_score as LM

        docs = self._docs(spark, [(1, "one"), (2, ""), (3, "two words")])
        out = {r.doc_id for r in LM.lm_score(docs).collect()}
        assert out == {3}

    def test_score_against_model_backoff(self, spark):
        """Unseen bigrams/contexts score at the smoothing floor instead
        of erroring; in-model text scores strictly lower."""
        import math

        from easy_alterator_spark.operators import lm_score as LM

        train = self._docs(spark, [(i, "a b a b a b") for i in range(3)])
        counts, contexts, vocab = LM.bigram_model(LM.doc_bigrams(train))
        new = self._docs(spark, [(10, "a b a b"), (11, "zz qq zz")])
        out = {
            r.doc_id: r for r in LM.lm_score_against(
                counts, contexts, vocab, new
            ).collect()
        }
        assert out[10].avg_nll < out[11].avg_nll
        # fully-unseen doc sits exactly at the floor: -ln(k/(k*v)) = ln(v)
        v = vocab.collect()[0].v
        assert abs(out[11].avg_nll - round(math.log(v), 4)) < 1e-9

    def test_gibberish_scores_above_corpus_text(self, spark):
        """The quality-gate property: a repeated-corpus doc scores
        below a unique-token doc under the self-trained model."""
        from easy_alterator_spark.operators import lm_score as LM

        rows = [(i, "spark builds training corpora at scale") for i in range(5)]
        rows.append((99, "zxq vbn mlk poi uyt rew"))
        out = {r.doc_id: r.avg_nll for r in LM.lm_score(
            self._docs(spark, rows)
        ).collect()}
        assert out[99] > out[0]


class TestStratifiedTopn:
    def test_exact_size_and_determinism(self, spark):
        from easy_alterator_spark.operators import sampling as SA

        df = spark.createDataFrame(
            [(i, "en" if i % 3 else "fr") for i in range(60)],
            "doc_id long, lang string",
        )
        a = {(r.doc_id, r.lang) for r in SA.stratified_topn(df, 7, "lang").collect()}
        b = {(r.doc_id, r.lang) for r in SA.stratified_topn(df, 7, "lang").collect()}
        assert a == b
        assert sum(1 for _, l in a if l == "en") == 7
        assert sum(1 for _, l in a if l == "fr") == 7

    def test_small_stratum_keeps_all(self, spark):
        from easy_alterator_spark.operators import sampling as SA

        df = spark.createDataFrame(
            [(1, "en"), (2, "en"), (3, "xx")], "doc_id long, lang string"
        )
        out = SA.stratified_topn(df, 10, "lang").collect()
        assert len(out) == 3

    def test_seed_gives_independent_sample(self, spark):
        from easy_alterator_spark.operators import sampling as SA

        df = spark.createDataFrame(
            [(i, "en") for i in range(200)], "doc_id long, lang string"
        )
        a = {r.doc_id for r in SA.stratified_topn(df, 20, "lang", seed="s0").collect()}
        b = {r.doc_id for r in SA.stratified_topn(df, 20, "lang", seed="s1").collect()}
        assert len(a) == len(b) == 20
        assert a != b


class TestChunkOverlap:
    def test_windows_cover_with_overlap(self, spark):
        from easy_alterator_spark.operators import sampling as SA

        text = " ".join(f"t{i:02d}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = {r.chunk_id: r for r in SA.chunk_documents_overlap(
            df, chunk_tokens=4, stride=2
        ).collect()}
        # windows start at 0,2,4,6,8 -> 5 chunks; last is short (2 toks)
        assert sorted(out) == [0, 1, 2, 3, 4]
        assert out[0].first_tok == "t00" and out[0].last_tok == "t03"
        assert out[1].first_tok == "t02" and out[1].last_tok == "t05"
        assert out[4].first_tok == "t08" and out[4].last_tok == "t09"
        assert out[4].n_tok == 2

    def test_stride_equal_chunk_matches_disjoint(self, spark):
        from easy_alterator_spark.operators import sampling as SA

        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
        )
        a = sorted(map(tuple, SA.chunk_documents_overlap(
            df, chunk_tokens=8, stride=8
        ).collect()))
        b = sorted(map(tuple, SA.chunk_documents(df, chunk_tokens=8).collect()))
        assert a == b

    def test_bad_stride_raises(self, spark):
        import pytest as _pt

        from easy_alterator_spark.operators import sampling as SA

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pt.raises(ValueError):
            SA.chunk_documents_overlap(df, chunk_tokens=4, stride=5)
        with _pt.raises(ValueError):
            SA.chunk_documents_overlap(df, chunk_tokens=4, stride=0)


class TestSemanticKernel:
    def test_kernel_matches_column_form_testdata(self, spark):
        """The applyInPandas matmul kernel and the Column-expression
        form agree exactly on the test corpus (no threshold-boundary
        pairs there; the docstring documents the ulp caveat)."""
        from easy_alterator_spark.operators import semantic as SM
        from easy_alterator_spark.sources import load_table

        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            emb = load_table(spark, sf, "embeddings")
            a = {
                (r.vec_id, r.bucket, r.keep)
                for r in SM.semantic_dedup(emb).collect()
            }
            b = {
                (r.vec_id, r.bucket, r.keep)
                for r in SM.semantic_dedup_kernel(emb).collect()
            }
            assert a == b

    def test_kernel_constructed_duplicates(self, spark):
        from easy_alterator_spark.operators import semantic as SM

        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),   # near-dup of 1
            (3, [0.0, 1.0, 0.0]),     # orthogonal
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r.vec_id: r.keep for r in SM.semantic_dedup_kernel(
            df, num_clusters=1, threshold=0.9
        ).collect()}
        assert out == {1: True, 2: False, 3: True}


class TestHybridSearch:
    def test_rrf_fuses_both_arms(self, spark):
        from easy_alterator_spark.operators.search import hybrid_search_rrf

        docs = spark.createDataFrame(
            [
                (1, "shuffle shuffle shuffle"),   # keyword hit only
                (2, "nothing relevant here"),
                (3, "broadcast and shuffle notes"),
            ],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [
                (1, [0.0, 1.0]),
                (2, [1.0, 0.0]),   # identical direction to query -> vec rank 1
                (3, [0.7, 0.7]),
                (7, [1.0, 0.0]),   # the query vector
            ],
            "vec_id long, embedding array<float>",
        )
        out = {r.doc_id: r for r in hybrid_search_rrf(
            docs, emb, ["shuffle", "broadcast"], query_vec_id=7, k=4, m=3
        ).collect()}
        # doc 2: vector arm only; doc 1: keyword arm only; doc 3: both
        assert out[1].kw_rank is not None and out[1].vec_rank is None
        assert out[2].vec_rank is not None and out[2].kw_rank is None
        assert out[3].kw_rank is not None and out[3].vec_rank is not None
        # fused doc with two mid ranks beats single-arm docs here
        assert max(out, key=lambda d: out[d].rrf) == 3

    def test_rrf_score_formula(self, spark):
        from easy_alterator_spark.operators.search import hybrid_search_rrf

        docs = spark.createDataFrame(
            [(1, "window fns")], "doc_id long, text string"
        )
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (7, [1.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        rows = hybrid_search_rrf(docs, emb, ["window"], 7, k=5, m=5).collect()
        r1 = next(r for r in rows if r.doc_id == 1)
        # doc 1: kw_rank 1; vec ranks: cos ties at 1.0 -> id asc -> doc1=1
        assert r1.kw_rank == 1 and r1.vec_rank == 1
        assert abs(r1.rrf - round(2 / 61.0, 6)) < 1e-12


class TestShinglesProperty:
    def test_zip_with_shingles_match_python_reference(self, spark):
        """Generative guard on the zip_with shingle rewrite: for random
        corpora and n in {2,3,5}, the engine's shingle stream equals
        the straightforward Python sliding window."""
        import random

        from pyspark.sql import functions as F

        from easy_alterator_spark.functions.text import all_shingles, tokens

        rng = random.Random(7)
        vocab = ["aa", "bb", "cc", "dd", "ee"]
        rows = []
        for i in range(60):
            n_tok = rng.randint(0, 12)
            # mixed whitespace + case to exercise normalization
            sep = rng.choice([" ", "  ", "\t", " \n "])
            text = sep.join(
                rng.choice(vocab).upper() if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(n_tok)
            )
            rows.append((i, text))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for n in (2, 3, 5):
            got = {
                r.doc_id: r.s
                for r in df.select(
                    "doc_id", all_shingles(F.col("text"), n).alias("s")
                ).collect()
            }
            for i, text in rows:
                toks = [t for t in text.lower().strip().split() if t]
                want = [
                    " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
                ]
                assert got[i] == want, (n, i, text)


class TestSimhashBitSchedules:
    def test_xxhash64_and_md5_agree_on_pair_set(self, spark):
        """Value-pin for the xxhash64 production default (r3 verdict
        task 6): on a constructed corpus of exact-duplicate groups plus
        token-disjoint far docs, BOTH bit schedules must produce the
        same near-dup pair set — the md5 twin carries the DuckDB
        oracle, so this pin extends its guarantee to the default.

        Exact duplicates have identical token multisets, hence
        identical SimHash bits (hamming 0) under ANY schedule; the far
        docs share no tokens and sit far apart under both 64-bit
        schedules on this fixed corpus."""
        from easy_alterator_spark.operators import dedup as D

        docs = []
        # three exact-dup groups (paraphrase-free: identical text)
        for g, text in enumerate(
            [
                "alpha beta gamma delta epsilon zeta eta theta",
                "one two three four five six seven eight nine ten",
                "lorem ipsum dolor sit amet consectetur adipiscing elit",
            ]
        ):
            docs.append((g * 10, text))
            docs.append((g * 10 + 1, text))
        # token-disjoint far docs (distinct vocabularies)
        for i, text in enumerate(
            [
                "zebra yak xylophone walrus vulture umbrella toucan",
                "quartz pyrite obsidian marble limestone granite flint basalt",
                "cumulus cirrus stratus nimbus altostratus cirrostratus",
            ]
        ):
            docs.append((100 + i, text))
        df = spark.createDataFrame(docs, "doc_id long, text string")

        def pairs(bit_source):
            return {
                (r["doc_id_a"], r["doc_id_b"], r["hd"])
                for r in D.simhash_dedup_pairs(
                    df, max_hamming=6, bit_source=bit_source
                ).collect()
            }

        xx, md = pairs("xxhash64"), pairs("md5")
        assert xx == md
        # the pair set is exactly the three planted duplicate pairs
        assert xx == {(0, 1, 0), (10, 11, 0), (20, 21, 0)}


class TestCappedLm:
    def test_capped_equals_full_when_vocab_fits(self, spark):
        """With top_v >= |vocab| the capped model IS the full model:
        identical scores."""
        from easy_alterator_spark.operators import lm_score as LM
        from easy_alterator_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        full = {r.doc_id: r.avg_nll for r in LM.lm_score(docs).collect()}
        c, x, v = LM.capped_bigram_model(LM.doc_bigrams(docs), top_v=10**6)
        capped = {
            r.doc_id: r.avg_nll
            for r in LM.lm_score_capped(c, x, v, docs).collect()
        }
        assert capped == full

    def test_oov_folding_scores_everything(self, spark):
        from easy_alterator_spark.operators import lm_score as LM

        train = spark.createDataFrame(
            [(i, "common words common words rare" + str(i)) for i in range(4)],
            "doc_id long, text string",
        )
        c, x, v = LM.capped_bigram_model(LM.doc_bigrams(train), top_v=2)
        new = spark.createDataFrame(
            [(10, "common words"), (11, "zz qq")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in LM.lm_score_capped(c, x, v, new).collect()}
        # in-vocab transition scores better than all-OOV text
        assert out[10].avg_nll < out[11].avg_nll
        assert out[11].n_bigrams == 1

    def test_capped_scoring_is_broadcast_only(self, spark):
        """The corpus pass must reach the final per-doc aggregate
        through broadcast joins only — no SMJ/shuffle join anywhere."""
        from easy_alterator_spark.operators import lm_score as LM
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts
        from easy_alterator_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        c, x, v = (d.cache() for d in LM.capped_bigram_model(
            LM.doc_bigrams(docs), top_v=256
        ))
        plan = formatted_plan(LM.lm_score_capped(c, x, v, docs))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0
        assert jc["ShuffledHashJoin"] == 0
        assert jc["BroadcastHashJoin"] >= 4
