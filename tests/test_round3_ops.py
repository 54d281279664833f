"""Round-3 third-wave operators: cluster selection, corpus overlap,
Naive Bayes classification, key-skew profiling, SCD-2 build.

Value-level semantics on constructed rows; the registered queries'
engine-vs-DuckDB parity runs in test_queries_oracle.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


class TestKeepBestPerCluster:
    def test_selection_quality_then_id(self, spark):
        from easy_alterator_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(1, 5), (2, 9), (3, 9), (4, 7), (10, 1)], "doc_id long, q int"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_id_a long, doc_id_b long"
        )
        out = {
            r["cluster_id"]: (r["kept_doc_id"], r["n_members"])
            for r in D.keep_best_per_cluster(
                docs, pairs, quality=F.col("q")
            ).collect()
        }
        # cluster {1,2,3}: max q is 9 shared by 2 and 3 -> min id 2 wins
        assert out[1] == (2, 3)
        # untouched docs are singletons keeping themselves
        assert out[4] == (4, 1)
        assert out[10] == (10, 1)

    def test_output_partitions_input(self, spark):
        from easy_alterator_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(i, i) for i in range(1, 8)], "doc_id long, q int"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (3, 4), (4, 5)], "doc_id_a long, doc_id_b long"
        )
        rows = D.keep_best_per_cluster(docs, pairs, quality=F.col("q")).collect()
        assert sum(r["n_members"] for r in rows) == 7
        assert len({r["cluster_id"] for r in rows}) == len(rows)


class TestSourceOverlapMinhash:
    def test_identical_slices_match_fully(self, spark):
        from easy_alterator_spark.operators.corpus_diff import (
            source_overlap_minhash,
        )

        docs = spark.createDataFrame(
            [("a", "x y z w"), ("b", "x y z w"), ("c", "p q r s")],
            "source string, text string",
        )
        rows = {
            (r["src_a"], r["src_b"]): r
            for r in source_overlap_minhash(docs).collect()
        }
        assert rows[("a", "b")]["matches"] == 64
        assert rows[("a", "b")]["est_jaccard"] == 1.0
        # disjoint vocabularies: expected 0 matching slots
        assert rows[("a", "c")]["matches"] <= 2

    def test_estimator_tracks_true_jaccard(self, spark):
        from easy_alterator_spark.operators.corpus_diff import (
            source_overlap_minhash,
        )

        # |A∩B| = 20, |A∪B| = 40 -> J = 0.5; 64 slots -> σ ≈ 0.0625
        a = " ".join(f"t{i}" for i in range(30))
        b = " ".join(f"t{i}" for i in range(10, 40))
        docs = spark.createDataFrame(
            [("a", a), ("b", b)], "source string, text string"
        )
        [r] = source_overlap_minhash(docs).collect()
        assert abs(r["est_jaccard"] - 0.5) < 0.25  # 4σ


class TestNaiveBayes:
    def test_separable_classes_classified(self, spark):
        from easy_alterator_spark.operators import nbayes as NB

        train = spark.createDataFrame(
            [
                ("en", "dog cat dog bird"),
                ("en", "cat dog fish"),
                ("fr", "chien chat chien"),
                ("fr", "chat poisson chien"),
            ],
            "lang string, text string",
        )
        test = spark.createDataFrame(
            [(1, "dog cat"), (2, "chien chat")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["pred_label"]
            for r in NB.nb_score(test, NB.nb_model(train)).collect()
        }
        assert out == {1: "en", 2: "fr"}

    def test_model_probabilities_normalize(self, spark):
        from easy_alterator_spark.operators import nbayes as NB

        train = spark.createDataFrame(
            [("en", "a b a"), ("fr", "c d")], "lang string, text string"
        )
        model = NB.nb_model(train).collect()
        # per label, sum over the vocab grid of exp(logp) must be 1
        by_label: dict = {}
        for r in model:
            by_label.setdefault(r["label"], []).append(math.exp(r["logp"]))
        for label, ps in by_label.items():
            assert abs(sum(ps) - 1.0) < 1e-9, label
        # priors: 1 doc each of 2 docs
        priors = {r["label"]: r["logprior"] for r in model}
        assert abs(priors["en"] - math.log(0.5)) < 1e-12

    def test_oov_tokens_ignored(self, spark):
        from easy_alterator_spark.operators import nbayes as NB

        train = spark.createDataFrame(
            [("en", "a b"), ("fr", "c d")], "lang string, text string"
        )
        test = spark.createDataFrame(
            [(1, "a zzz qqq")], "doc_id long, text string"
        )
        [r] = NB.nb_score(test, NB.nb_model(train)).collect()
        assert r["pred_label"] == "en"


class TestKeySkewProfile:
    def test_counts_shares_and_null_key(self, spark):
        from easy_alterator_spark.operators.profile import key_skew_profile

        df = spark.createDataFrame(
            [(k,) for k in ["a"] * 6 + ["b"] * 2 + [None] * 2], "k string"
        )
        rows = key_skew_profile(df, "k", top_k=10).collect()
        assert [r["key"] for r in rows] == ["a", "NULL", "b"]
        top = rows[0]
        assert top["cnt"] == 6
        assert top["share"] == 0.6
        assert top["skew_ratio"] == pytest.approx(6 * 3 / 10)

    def test_top_k_limit_deterministic_under_ties(self, spark):
        from easy_alterator_spark.operators.profile import key_skew_profile

        df = spark.createDataFrame([(f"k{i % 7}",) for i in range(70)], "k string")
        rows = key_skew_profile(df, "k", top_k=3).collect()
        # all counts tie at 10 -> key ascending decides
        assert [r["key"] for r in rows] == ["k0", "k1", "k2"]


class TestScd2:
    def test_runs_collapse_and_brackets_chain(self, spark):
        from easy_alterator_spark.queries import QUERIES, load_all

        load_all()
        df = QUERIES["events_scd2"](spark, "/root/testdata/sf0.001")
        rows = df.filter(F.col("user_id") == df.select("user_id").first()[0]).orderBy(
            "valid_from"
        ).collect()
        # exactly one open (current) version per user
        assert sum(1 for r in rows if r["is_current"]) == 1
        assert rows[-1]["is_current"]
        # no consecutive duplicate attribute values
        for a, b in zip(rows, rows[1:]):
            assert a["event_type"] != b["event_type"]
            assert a["valid_to"] == b["valid_from"]


class TestCorpusEntropy:
    def test_uniform_vs_degenerate(self, spark):
        from easy_alterator_spark.operators.textstats import corpus_entropy_by

        docs = spark.createDataFrame(
            [("u", "a b c d"), ("d", "x x x x")], "source string, text string"
        )
        out = {r["source"]: r for r in corpus_entropy_by(docs).collect()}
        assert out["u"]["entropy_bits"] == pytest.approx(2.0)  # 4 equiprobable
        assert out["d"]["entropy_bits"] == 0.0  # single token
        assert out["u"]["type_token_ratio"] == 1.0
        assert out["d"]["vocab"] == 1 and out["d"]["n_tokens"] == 4


class TestBoilerplate:
    def test_template_bigram_found(self, spark):
        from easy_alterator_spark.operators.textstats import boilerplate_ngrams

        rows = [("s", i, f"cookie banner unique{i} words{i}") for i in range(10)]
        rows += [("s", 99, "no template here at all")]
        docs = spark.createDataFrame(rows, "source string, doc_id long, text string")
        out = boilerplate_ngrams(docs, n=2, min_doc_frac=0.5).collect()
        grams = {r["gram"] for r in out}
        assert "cookie banner" in grams
        [cb] = [r for r in out if r["gram"] == "cookie banner"]
        assert cb["df"] == 10 and cb["doc_frac"] == pytest.approx(10 / 11, abs=1e-4)
        # per-doc distinct: repeating a gram inside one doc counts once
        assert all(r["df"] <= 11 for r in out)


class TestLeakageGuard:
    def test_roles(self, spark):
        from easy_alterator_spark.operators.sampling import (
            hash_bucket,
            split_with_leakage_guard,
        )

        docs = spark.createDataFrame([(i,) for i in range(1, 30)], "doc_id long")
        # find one eval id and one non-eval id under the real predicate
        buckets = {
            r["doc_id"]: r["b"]
            for r in docs.select(
                "doc_id", hash_bucket(F.col("doc_id")).alias("b")
            ).collect()
        }
        cut = int(0.2 * (1 << 16))
        ev = next(i for i, b in buckets.items() if b < cut)
        tr1, tr2, tr3 = [i for i, b in buckets.items() if b >= cut][:3]
        pairs = spark.createDataFrame(
            [(ev, tr1), (tr2, tr3)], "doc_id_a long, doc_id_b long"
        )
        roles = {
            r["doc_id"]: r["role"]
            for r in split_with_leakage_guard(docs, pairs, 0.2).collect()
        }
        assert roles[ev] == "eval"
        assert roles[tr1] == "dropped"  # near-dup of an eval doc
        assert roles[tr2] == "train" and roles[tr3] == "train"  # train-train pair ok
        assert len(roles) == 29


class TestThresholdSweep:
    def test_bins_sum_and_boundaries(self, spark):
        from easy_alterator_spark.queries import QUERIES, load_all

        load_all()
        rows = QUERIES["dedup_threshold_sweep"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows, "sweep must be non-vacuous on the smoke corpus"
        assert all(0.5 <= r["jac_bin"] <= 1.0 for r in rows)
        assert all(r["n_pairs"] > 0 for r in rows)


class TestBpe:
    def test_merge_sequence_and_tiebreak(self, spark):
        from easy_alterator_spark.operators.bpe import bpe_segment, bpe_train

        docs = spark.createDataFrame(
            [(1, "banana bandana banana")], "doc_id long, text string"
        )
        m = bpe_train(docs, num_merges=3).collect()
        got = [(r["rank"], r["left"], r["right"], r["freq"]) for r in m]
        # hand-computed: (a,n) freq 6; then (an,a) beats (b,an) on the
        # lexicographic tie at freq 3; then (b,an)
        assert got == [(0, "a", "n", 6), (1, "an", "a", 3), (2, "b", "an", 3)]
        seg = {
            r["w"]: r["pieces"]
            for r in bpe_segment(
                spark.createDataFrame([("banana",), ("bandana",)], "w string"),
                [(r["left"], r["right"]) for r in m],
            ).collect()
        }
        assert seg["banana"] == ["ban", "ana"]
        assert seg["bandana"] == ["ban", "d", "ana"]

    def test_greedy_nonoverlapping_merge(self, spark):
        from easy_alterator_spark.operators.bpe import bpe_segment

        seg = bpe_segment(
            spark.createDataFrame([("aaa",)], "w string"), [("a", "a")]
        ).collect()
        assert seg[0]["pieces"] == ["aa", "a"]

    def test_early_stop_single_symbols(self, spark):
        from easy_alterator_spark.operators.bpe import bpe_train

        docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
        m = bpe_train(docs, num_merges=5).collect()
        assert m == []  # no adjacent pairs anywhere -> stops at round 0


class TestKAnonymity:
    def test_small_cells_flagged(self, spark):
        from easy_alterator_spark.queries import QUERIES, load_all

        load_all()
        rows = QUERIES["privacy_k_anonymity"](spark, "/root/testdata/sf0.001").collect()
        assert rows and all(r["n"] < 5 for r in rows)


class TestTriangleSupport:
    def test_bridge_vs_clique(self, spark):
        from easy_alterator_spark.operators import dedup as D

        # triangle {1,2,3} + bridge (3,4) + pendant pair (4,5)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
            "doc_id_a long, doc_id_b long",
        )
        sup = {
            (r["doc_id_a"], r["doc_id_b"]): r["support"]
            for r in D.edge_triangle_support(pairs).collect()
        }
        assert sup[(1, 2)] == 1 and sup[(2, 3)] == 1 and sup[(1, 3)] == 1
        assert sup[(3, 4)] == 0  # the spurious bridge
        assert sup[(4, 5)] == 0


class TestIncrementalMerge:
    def test_merge_equals_full(self, spark):
        from easy_alterator_spark.queries import QUERIES, load_all
        from easy_alterator_spark.sources import load_table
        from pyspark.sql import functions as F

        load_all()
        merged = {
            r["event_type"]: r
            for r in QUERIES["agg_incremental_merge"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        full = {
            r["event_type"]: r
            for r in load_table(spark, "/root/testdata/sf0.001", "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .collect()
        }
        assert set(merged) == set(full)
        for k in full:
            assert merged[k]["n"] == full[k]["n"]
            assert merged[k]["sum_value"] == full[k]["sum_value"]


class TestQuantizeReport:
    def test_constant_dim_exact_and_error_bound(self, spark):
        from easy_alterator_spark.operators.similarity import quantize_report_int8

        rows = [(i, [float(i % 7), 3.0], i % 2) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
        out = quantize_report_int8(df).collect()
        assert {r["label"] for r in out} == {0, 1}
        for r in out:
            # max error bounded by half a quantization step of the
            # widest dim (range 6 over 255 steps); constant dim adds 0
            assert r["max_abs_err"] <= 6 / 255 / 2 + 1e-6  # +1e-6: output rounding
            assert r["mse"] >= 0

    def test_all_constant_reconstructs_exactly(self, spark):
        from easy_alterator_spark.operators.similarity import quantize_report_int8

        df = spark.createDataFrame(
            [(i, [1.5, -2.0], 0) for i in range(5)],
            "vec_id long, embedding array<double>, label int",
        )
        [r] = quantize_report_int8(df).collect()
        assert r["mse"] == 0.0 and r["max_abs_err"] == 0.0


class TestDfPrunedMinhash:
    def test_pruning_reveals_planted_pairs(self, spark):
        """Boilerplate tokens (df=1.0) drown near-dup signal: without
        pruning every doc pair exceeds the threshold; with DF pruning
        only the planted rare-token pairs survive, each at jac 1.0."""
        from easy_alterator_spark.operators import dedup as D

        rows = []
        boiler = "the quick brown fox jumps over the lazy dog again"
        for i in range(20):
            rows.append((i, boiler))
        # two planted pairs sharing 6 rare tokens each
        for g in (0, 1):
            salt = " ".join(f"r{g}{j}" for j in "abcdef")
            rows.append((100 + g * 10, boiler + " " + salt))
            rows.append((101 + g * 10, boiler + " " + salt))
        df = spark.createDataFrame(rows, "doc_id long, text string")

        unpruned = D.minhash_dedup_pairs(df, threshold=0.9).count()
        assert unpruned >= 20 * 19 / 2  # boilerplate floods the output

        got = {
            (r["doc_id_a"], r["doc_id_b"], r["jac"])
            for r in D.minhash_dedup_pairs(
                df, threshold=0.9, df_prune=0.5, min_set=5
            ).collect()
        }
        assert got == {(100, 101, 1.0), (110, 111, 1.0)}

    def test_min_set_floor_drops_degenerate_sets(self, spark):
        """Docs whose pruned sets fall below min_set produce no pairs
        (tiny-set Jaccard is degenerate by construction)."""
        from easy_alterator_spark.operators import dedup as D

        rows = [(i, "common words everywhere always") for i in range(10)]
        rows += [(50, "common words everywhere always rare1"),
                 (51, "common words everywhere always rare1")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # pruned sets are {rare1} (size 1) -> min_set=2 kills them
        out = D.minhash_dedup_pairs(df, threshold=0.9, df_prune=0.5, min_set=2)
        assert out.count() == 0
        # min_set=1 lets the single-rare-token pair through at jac 1.0
        out1 = D.minhash_dedup_pairs(df, threshold=0.9, df_prune=0.5, min_set=1)
        assert {(r["doc_id_a"], r["doc_id_b"]) for r in out1.collect()} == {(50, 51)}
