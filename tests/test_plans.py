"""Physical-plan regression tests: pushdown, pruning, join strategy,
and shuffle counts are part of the contract at 100 TB — lock them."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    from easy_alterator_spark.queries import QUERIES, load_all

    load_all()
    return QUERIES


@pytest.fixture(scope="module")
def built_all(spark, queries):
    """Every registry query constructed ONCE at sf0.001, shared by the
    registry-wide static sweeps (dtype contract, global-window audit).
    Construction is the expensive part of those sweeps (~0.2-0.4 s of
    Catalyst analysis per query, seconds for the entries that execute
    jobs while building — the recall audit's collect, the streaming
    twins' micro-batches), and r12's suite-wall-clock budget (VERDICT
    r11 task 3) pays it once instead of once per sweep. Built under
    no_pin() so the printed plans show the PRE-PIN trees the window
    audit must see (VERDICT r11 task 4); schemas are pin-invariant,
    so the dtype sweep reads the same fixture safely."""
    from .util import no_pin

    out = {}
    with no_pin():
        for name, fn in queries.items():
            out[name] = fn(spark, SF)
    return out


class TestPushdownAndPruning:
    def test_filter_reaches_scan(self, spark, queries):
        from easy_alterator_spark.plans.audit import assert_filter_pushed

        df = queries["q02_filter"](spark, SF)
        assert_filter_pushed(df, "EqualTo(o_orderstatus,F)")
        assert_filter_pushed(df, "GreaterThan(o_totalprice")

    def test_projection_prunes_scan(self, spark, queries):
        from easy_alterator_spark.plans.audit import assert_reads_only

        df = queries["q08_multijoin_agg"](spark, SF)
        # orders contributes only the join key and the aggregated column
        assert_reads_only(df, "o_custkey", {"o_custkey", "o_totalprice"})
        assert_reads_only(df, "n_nationkey", {"n_nationkey", "n_name"})

    def test_predicate_pushdown_on_similarity_bound(self, spark, queries):
        from easy_alterator_spark.plans.audit import assert_filter_pushed

        df = queries["q21_similarity_topk"](spark, SF)
        assert_filter_pushed(df, "LessThanOrEqual(vec_id,50)")


class TestJoinStrategy:
    def test_dimension_joins_broadcast(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        jc = join_counts(formatted_plan(queries["q08_multijoin_agg"](spark, SF)))
        assert jc["BroadcastHashJoin"] >= 2
        assert jc["SortMergeJoin"] == 0

    def test_minhash_band_join_reuses_exchange(self, spark, queries):
        from easy_alterator_spark.operators.dedup import minhash_dedup_pairs
        from easy_alterator_spark.plans.audit import executed_plan
        from easy_alterator_spark.sources import load_table

        # exchange reuse is an AQE runtime decision — inspect the
        # executed plan, not the static explain
        plan = executed_plan(
            minhash_dedup_pairs(load_table(spark, SF, "documents"))
        )
        # the self-join's second side must reuse the banded exchange,
        # not recompute the signatures
        assert "ReusedExchange" in plan
        assert "ShuffledHashJoin" in plan

    def test_no_cartesian_in_oracle_suite(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        # bounded pairwise ops are allowed nested-loop joins; the core
        # relational inventory must never degrade to a cartesian product
        for name in ("q03_inner_join", "q04_full_outer", "q05_anti_join",
                     "q06_semi_join", "q08_multijoin_agg", "q09_hash_agg"):
            jc = join_counts(formatted_plan(queries[name](spark, SF)))
            assert jc["CartesianProduct"] == 0, name


class TestSchemaDiffPlanShape:
    """Each schema diff runs as a few exchanges over table-count-sized
    inputs, each table diffed inside its row: one shuffle per groupBy or
    window, one broadcast per catalog side. A join per reference merge
    shows up here as dozens. Counted in the final AQE plan, which host
    steal cannot move."""

    MAX_EXCHANGES = 4

    @staticmethod
    def _exchanges(df) -> dict[str, int]:
        import re

        from easy_alterator_spark.plans.audit import executed_plan

        final = executed_plan(df).split("== Initial Plan ==")[0]
        return {
            "shuffle": len(re.findall(r"(?<!\w)Exchange\b", final)),
            "broadcast": final.count("BroadcastExchange"),
        }

    @pytest.fixture(scope="class")
    def diffs(self, spark):
        from easy_alterator_spark.diff import hive_diff, iceberg_diff

        from .test_diff_goldens import _frames
        from .test_schema_diff import CAT_COLS, CAT_TABLES, DDLS

        parsed, cat_cols, cat_tables = _frames(spark, DDLS, CAT_COLS, CAT_TABLES)
        return {
            "hive_diff": hive_diff(parsed, cat_cols, cat_tables),
            "iceberg_diff": iceberg_diff(parsed, cat_cols, cat_tables),
        }

    @pytest.mark.parametrize("name", ["hive_diff", "iceberg_diff"])
    def test_diff_is_a_few_exchanges(self, diffs, name):
        n = self._exchanges(diffs[name])
        assert n["shuffle"] + n["broadcast"] <= self.MAX_EXCHANGES, (name, n)

    @pytest.mark.parametrize("name", ["hive_diff", "iceberg_diff"])
    def test_diff_starts_no_python_worker(self, diffs, name):
        """Column moves are ordered on the driver after the collect
        (``report.position_moves``), and the snapshot and corpus frames
        are local relations (``session.local_frame``): the executed diff
        plans hold no Python evaluation node and no scan of a Python
        RDD, so a CLI run launches no Python worker."""
        from easy_alterator_spark.plans.audit import executed_plan

        plan = executed_plan(diffs[name])
        for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "ExistingRDD"):
            assert node not in plan, (name, node)


class TestTrainingDataOps:
    def test_sample_filter_pushes_into_scan(self, spark, queries):
        """The md5-bucket sample must be a scan-level filter — a sample
        that reads 100 TB then filters wasted the whole point."""
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["doc_sample_split"](spark, SF))
        # row-local predicate sitting directly on the scan: no join, and
        # the ONLY shuffle is the final per-lang agg (formatted plans
        # show each Exchange twice: tree + detail)
        assert "Join" not in plan
        assert exchange_count(plan) <= 2, plan
        assert "Filter (2)" in plan and "Scan parquet" in plan

    def test_pack_sequences_single_window_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["doc_pack_sequences"](spark, SF))
        # one shuffle on the stratum key feeds the running-sum window
        assert exchange_count(plan) <= 2, plan
        assert "Window" in plan

    def test_ivf_probe_big_side_never_shuffles(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["sim_ann_ivf_probe2"](spark, SF))
        jc = join_counts(plan)
        # r4 Arrow form: assignment + probe scoring are ONE
        # mapInPandas scan of the vector table (centroids/queries are
        # closure state, offline-codebook discipline) — there is no
        # join at all, and the only exchange is the bounded top-k
        # window on the ~|queries|-sized pair output. The vector table
        # must never be the shuffled side of any join.
        assert "MapInPandas" in plan, plan
        assert sum(jc.values()) == 0, jc
        assert plan.count("Exchange") <= 2, plan

    def test_ivf_column_twin_big_side_never_shuffles(self, spark):
        # the Column-form verify twin keeps the r3 inline-assignment
        # shape: broadcast probes + broadcast one-row centroid array,
        # vector table on the streamed side of every join
        from easy_alterator_spark.operators.similarity import ivf_topk
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts
        from easy_alterator_spark.sources import load_table

        emb = load_table(spark, SF, "embeddings")
        plan = formatted_plan(
            ivf_topk(emb, [0, 1, 2, 3, 4], k=3, num_centroids=8, nprobe=2)
        )
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 1
        assert jc["BroadcastNestedLoopJoin"] >= 1
        assert jc["SortMergeJoin"] == 0
        assert jc["ShuffledHashJoin"] == 0
        assert jc["CartesianProduct"] == 0

    def test_pii_redact_no_shuffle_before_agg(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["text_pii_redact"](spark, SF))
        # regex scrub is map-side; the only exchange is the final agg
        assert exchange_count(plan) <= 2, plan
        assert plan.count("HashAggregate") >= 2  # partial + final


class TestShuffleBudget:
    def test_sessionize_single_shuffle_for_windows(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["events_sessionize"](spark, SF))
        # one shuffle on user_id feeds both window functions and the
        # session aggregation; the final per-user agg rides the same
        # partitioning (no extra exchange)
        assert exchange_count(plan) <= 2, plan

    def test_hash_agg_partial_final(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["q09_hash_agg"](spark, SF))
        assert plan.count("HashAggregate") >= 2  # partial + final
        assert exchange_count(plan) <= 2


class TestRound2Ops:
    def test_decontaminate_broadcasts_benchmark_side(self, spark, queries):
        """The 100 TB training side must stream map-only into a
        broadcast of the (small) benchmark gram set — a shuffled join
        here re-shuffles the whole corpus's gram stream."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["decontaminate_ngram"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 1
        assert jc["SortMergeJoin"] == 0
        assert jc["CartesianProduct"] == 0

    def test_repetition_metrics_zero_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["text_repetition"](spark, SF))
        assert "Join" not in plan
        assert exchange_count(plan) == 0, plan  # pure map over the scan

    def test_vocab_topk_no_global_sort(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["vocab_topk"](spark, SF))
        # top-k rides TakeOrderedAndProject; a Sort node would mean a
        # full vocabulary sort materialized
        assert "TakeOrderedAndProject" in plan
        assert plan.count("HashAggregate") >= 2  # partial + final

    def test_incremental_dedup_no_cartesian_band_join(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["dedup_incremental"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        assert jc["ShuffledHashJoin"] >= 1  # the band probe join

    def test_zorder_key_is_map_side(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["layout_zorder"](spark, SF))
        assert join_counts(plan)["CartesianProduct"] == 0
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan  # limit 200, no full sort

    def test_cube_single_expand_single_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["agg_cube"](spark, SF))
        assert "Expand" in plan
        assert exchange_count(plan) <= 2, plan


class TestAnalyticsOps:
    def test_tfidf_no_cartesian_and_partial_aggs(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["tfidf_top_terms"](spark, SF))
        jc = join_counts(plan)
        # corpus-size N is a 1-row broadcast (BNLJ is fine for it);
        # a CartesianProduct would mean the tf x df join degenerated
        assert jc["CartesianProduct"] == 0
        assert plan.count("HashAggregate") >= 4  # tf and df, partial+final

    def test_quantiles_single_group_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["stats_quantiles"](spark, SF))
        assert "Join" not in plan
        assert exchange_count(plan) <= 2, plan

    def test_pivot_is_one_aggregation_one_scan(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["pivot_event_counts"](spark, SF))
        # pinned pivot values: no second scan to infer distinct columns
        assert plan.count("InMemoryFileIndex") == 1, plan
        assert exchange_count(plan) <= 4, plan  # <=2 nodes (each listed twice)

    def test_rolling_window_filter_pushed(self, spark, queries):
        from easy_alterator_spark.plans.audit import (
            assert_filter_pushed,
            exchange_count,
            formatted_plan,
        )

        df = queries["events_rolling_7d"](spark, SF)
        assert_filter_pushed(df, "LessThan(user_id,20)")
        # one shuffle on user_id feeds the range-frame window (each
        # node appears twice in formatted output: tree + details)
        assert exchange_count(formatted_plan(df)) <= 2

    def test_latest_by_key_is_agg_not_sort(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["events_latest_by_key"](spark, SF))
        # max_by compaction: no per-key sort, no window; partial+final agg
        assert "Window" not in plan
        assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2
        assert exchange_count(plan) <= 2, plan  # 1 node, listed twice

    def test_grouping_sets_single_expand(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["agg_grouping_sets"](spark, SF))
        assert "Expand" in plan
        assert exchange_count(plan) <= 2, plan

    def test_chunk_split_no_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["doc_chunk_split"](spark, SF))
        assert "Join" not in plan
        assert exchange_count(plan) == 0, plan  # map + explode only

    def test_gap_fill_spine_never_driver_side(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_gap_fill"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        # the generated date spine joins observations on (key, day) —
        # any join strategy but a cartesian is fine; Generate (the
        # sequence explode) must run executor-side
        assert "Generate" in plan

    def test_pipeline_composes_without_cartesian(self, spark, queries):
        """The five-stage pipeline must stay one sane plan: benchmark
        gram set broadcast, no cartesian anywhere, and the dedup/
        decontaminate joins as hash joins."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["pipeline_training_corpus"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        assert jc["BroadcastHashJoin"] >= 1  # bench grams + survivor semi-join

    def test_funnel_steps_share_key_partitioning(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_funnel"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0  # 1-row combines are BNLJ, fine
        assert jc["SortMergeJoin"] == 0

    def test_outliers_single_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import exchange_count, formatted_plan

        plan = formatted_plan(queries["events_outliers"](spark, SF))
        assert "Join" not in plan
        # stats window + final agg ride one user_id shuffle (node
        # listed twice: tree + details)
        assert exchange_count(plan) <= 2, plan

    def test_correlated_avg_one_shuffle(self, spark, queries):
        from easy_alterator_spark.plans.audit import (
            assert_filter_pushed,
            exchange_count,
            formatted_plan,
        )

        df = queries["q22_correlated_avg"](spark, SF)
        assert_filter_pushed(df, "LessThanOrEqual(l_partkey,200)")
        assert exchange_count(formatted_plan(df)) <= 2


class TestTpchShapes:
    """q23-q26 plan contracts: the four TPC-H shapes must keep their
    canonical strategies (pushdown + partial agg; broadcast dims +
    single fact shuffle; TakeOrdered instead of global sort)."""

    def test_q23_pricing_pushdown_and_partial_agg(self, spark, queries):
        from easy_alterator_spark.plans.audit import (
            assert_filter_pushed,
            assert_reads_only,
            formatted_plan,
        )

        df = queries["q23_tpch_pricing"](spark, SF)
        assert_filter_pushed(df, "LessThanOrEqual(l_shipdate")
        assert_reads_only(
            df,
            "l_returnflag",
            {"l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
             "l_discount", "l_tax", "l_shipdate"},
        )
        # algebraic aggregate -> map-side partial before the exchange
        assert "partial_sum" in formatted_plan(df).lower() or "HashAggregate" in formatted_plan(df)

    def test_q24_shipping_topk_no_global_sort(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["q24_tpch_shipping"](spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert join_counts(plan)["CartesianProduct"] == 0

    def test_q25_snowflake_broadcasts_all_dims(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["q25_tpch_local_supplier"](spark, SF))
        jc = join_counts(plan)
        # region/nation/customer/supplier all broadcast; the only
        # shuffle join is lineitem |><| orders
        assert jc["BroadcastHashJoin"] >= 4
        assert jc["CartesianProduct"] == 0

    def test_q26_having_set_broadcasts_back(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["q26_tpch_large_orders"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 2  # semi-filter + customer
        assert jc["CartesianProduct"] == 0


class TestSemanticDedup:
    def test_assignment_never_shuffles_vectors(self, spark, queries):
        """Bucket assignment must be the inline broadcast-argmax — the
        embeddings table reaches the per-bucket kernel through map-side
        work only: no join of any kind (the pair enumeration happens
        inside the grouped matmul), and the single wide op is the
        bucket-key exchange feeding FlatMapGroupsInPandas."""
        from easy_alterator_spark.plans.audit import (
            exchange_count,
            formatted_plan,
            join_counts,
        )

        plan = formatted_plan(queries["dedup_semantic"](spark, SF))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0
        assert jc["CartesianProduct"] == 0
        assert "FlatMapGroupsInPandas" in plan
        # ONE bucket exchange (formatted plans list each node in the
        # tree AND the detail section, so one real Exchange = 2 hits);
        # the vector table itself is never exchanged twice
        assert exchange_count(plan) <= 2


class TestBloomDecontaminate:
    def test_training_side_maps_into_broadcast_verify(self, spark, queries):
        """The Bloom probe is a scan-level Filter (literal bitmap, no
        UDF, no join) and the only join is the broadcast verify —
        the training side never SMJ/shuffle-joins."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["decontaminate_bloom"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 1
        assert jc["SortMergeJoin"] == 0
        assert jc["CartesianProduct"] == 0
        assert "getbit" in plan  # the native bit probe made it into codegen
        assert "pythonudf" not in plan.lower()


class TestChunkDedup:
    def test_two_wide_ops_only(self, spark, queries):
        """Chunking is row-local; the whole operator is one window on
        the chunk hash + one doc regroup (plus the empty-doc anti-join
        legs) — no SMJ of the exploded stream, no cartesian."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["doc_chunk_dedup"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        assert "pythonudf" not in plan.lower()


class TestProductQuantization:
    def test_pq_scan_is_mapside_until_topk(self, spark, queries):
        """Codebooks/queries are broadcast literals; encoding + ADC
        scoring are row-local, so the big side's only wide op is the
        top-k window — no SMJ, no shuffle join of the vector table."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["sim_ann_pq"](spark, SF))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0
        assert jc["ShuffledHashJoin"] == 0
        assert jc["CartesianProduct"] == 0
        assert "pythonudf" not in plan.lower()


class TestSubstringDedup:
    def test_stats_two_shuffles_no_joins(self, spark, queries):
        """window_dup_stats is one window over the gram hash + one
        per-doc rollup: exactly two exchanges, zero joins, zero UDFs —
        the occurrence stream is never joined back onto itself."""
        from easy_alterator_spark.plans.audit import (
            exchange_count,
            formatted_plan,
            join_counts,
        )

        df = queries["dedup_substring_stats"](spark, SF)
        plan = formatted_plan(df)
        jc = join_counts(plan)
        assert sum(jc.values()) == 0, jc
        # formatted mode lists every node twice (tree + detail block),
        # so 2 real shuffles == 4 matches
        assert exchange_count(plan) == 4, plan
        assert "pythonudf" not in plan.lower()

    def test_drop_is_anti_join_on_flagged_only(self, spark, queries):
        """drop_duplicated_docs anti-joins the corpus against the
        (small) flagged set — no cartesian, no extra join of the
        window stream."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["dedup_substring_drop"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        assert "LeftAnti" in plan


class TestNoInterpretedHotLoops:
    """Guard the HOF-discipline fixes: index-based transform(sequence,
    i -> f(toks, i)) lambdas re-evaluate their inlined array subtree
    per POSITION and never enter whole-stage codegen — shingling and
    phrase search were O(len^2)-interpreted until rewritten. These
    tests pin the fixed shapes."""

    def test_phrase_search_has_no_lambda(self, spark):
        from easy_alterator_spark.operators.search import phrase_occurrences
        from easy_alterator_spark.plans.audit import formatted_plan

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = formatted_plan(phrase_occurrences(docs, "a b")).lower()
        assert "lambdafunction" not in plan
        # regexp_count lowers to size(regexp_extract_all(...))
        assert "regexp_extract_all" in plan

    def test_shingles_use_zip_with_not_indexed_transform(self, spark):
        from pyspark.sql import functions as F

        from easy_alterator_spark.functions.text import all_shingles
        from easy_alterator_spark.plans.audit import formatted_plan

        docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        plan = formatted_plan(
            docs.select(all_shingles(F.col("text"), 3).alias("s"))
        ).lower()
        # zip_with compiles to zip_with(...); the quadratic form shows
        # as transform(sequence(...), lambda ... slice(...))
        assert "zip_with" in plan
        assert "transform(sequence" not in plan.replace(" ", "")


class TestTpchThirdWaveShapes:
    """q36-q43 plan contracts: the closing TPC-H shapes keep their
    canonical strategies (dims broadcast, no fact self-joins, no
    cartesian products)."""

    def test_q37_profit_broadcasts_dims_single_fact_join(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["q37_tpch_profit"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        # part/supplier/nation broadcast; only lineitem|><|orders may shuffle
        assert jc["BroadcastHashJoin"] >= 3
        assert jc["SortMergeJoin"] + jc["ShuffledHashJoin"] <= 1

    def test_q41_correlated_avg_no_fact_rescan(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["q41_tpch_small_qty"](spark, SF))
        # the window form reads lineitem ONCE (canonical Q17 re-scans it)
        assert plan.count("lineitem.parquet") == 1

    def test_q43_waiting_supplier_no_fact_self_join(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["q43_tpch_waiting_supplier"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0
        # EXISTS/NOT-EXISTS collapsed to aggregates: lineitem scanned once
        assert plan.count("lineitem.parquet") == 1


class TestThirdWaveOpShapes:
    """Plan contracts for the round-3 third-wave operators."""

    def test_nb_score_model_broadcasts(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["doc_nb_classify"](spark, SF))
        jc = join_counts(plan)
        # the vocab×classes model joins the exploded token stream
        # broadcast — the corpus side never shuffles for the join
        assert jc["BroadcastHashJoin"] >= 1
        assert jc["CartesianProduct"] == 0

    def test_leakage_guard_no_corpus_self_join(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["split_leakage_guard"](spark, SF))
        # the pair generation reads documents twice (bounded slice);
        # the corpus-marking join must be the broadcast of the
        # pair-derived leak list, not a corpus shuffle
        assert "BroadcastHashJoin" in plan

    def test_skew_profile_partial_agg_and_limit(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["profile_key_skew"](spark, SF))
        # top-k never materializes a global sort
        assert "TakeOrderedAndProject" in plan

    def test_overlap_minhash_signature_sized_join(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["corpus_overlap_minhash"](spark, SF))
        # pairwise stage joins the per-slice signature aggregates; the
        # corpus contributes only through the distinct+min aggregation
        assert join_counts(plan)["CartesianProduct"] == 0
        assert plan.count("documents.parquet") == 1

    def test_scd2_single_sort_exchange(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["events_scd2"](spark, SF))
        # both windows share the (user_id; ts, event_id)-compatible
        # sort: exactly one exchange and one sort in the whole plan
        tree = [l for l in plan.splitlines() if "+- Exchange" in l or l.strip().startswith("Exchange")]
        sorts = [l for l in plan.splitlines() if "+- Sort" in l]
        assert len(tree) == 1, plan
        assert len(sorts) == 1, plan


class TestRound5PlanContracts:
    def test_asof_forward_single_shuffle_no_join(self, spark):
        """The forward as-of is ONE exchange (the key sort), never a
        range/nested-loop join."""
        import datetime as dt

        from easy_alterator_spark.operators.joins import asof_join_forward
        from easy_alterator_spark.plans.audit import (
            formatted_plan,
            join_counts,
        )

        T = dt.datetime
        l = spark.createDataFrame(
            [(1, T(2024, 1, 1), 1)], "k long, t timestamp, pid long"
        )
        r = spark.createDataFrame(
            [(1, T(2024, 1, 2), "a")], "k long, vt timestamp, state string"
        )
        plan = formatted_plan(
            asof_join_forward(l, r, "k", "t", "vt", ["state"])
        )
        jc = join_counts(plan)
        assert jc["BroadcastNestedLoopJoin"] == 0
        assert jc["CartesianProduct"] == 0
        assert jc["SortMergeJoin"] == 0
        # union of two local relations -> exactly one exchange for the
        # window partitioning (formatted mode puts the partitioning on
        # the Arguments line)
        assert plan.count("hashpartitioning(__k") == 1

    def test_kmeans_centroids_ride_broadcast(self, spark, queries):
        """Both assignment passes broadcast the centroid side; the
        corpus is never sort-merge joined."""
        from easy_alterator_spark.plans.audit import (
            formatted_plan,
            join_counts,
        )

        plan = formatted_plan(queries["cluster_kmeans"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] + plan.count("BroadcastNestedLoopJoin") >= 2
        assert jc["SortMergeJoin"] == 0
        assert jc["CartesianProduct"] == 0

    def test_partition_checksum_partial_aggregates(self, spark, queries):
        """The checksum aggregation map-side combines: the plan holds
        partial HashAggregates below each exchange, and the two
        replica sides meet only at months granularity."""
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["sync_partition_checksums"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # partial_count / partial_sum markers: partial agg before shuffle
        assert plan.count("HashAggregate") >= 4

    def test_runtime_bloom_filter_prunes_shuffle_join_probe(self, spark):
        """At cluster scale (both join sides too big to broadcast),
        Spark 4's runtime bloom filter injects a might_contain probe
        on the fact side, built from the filtered dim side — the
        semi-join reduction that cuts shuffled fact rows to roughly
        the dim selectivity. Local testdata sits under the size
        thresholds, so a cloned session simulates cluster sizes by
        lowering them; the contract pinned here is that our plain
        equi-join shape QUALIFIES for the rewrite (no expression in
        the join key that would defeat it)."""
        from pyspark.sql import functions as F

        from easy_alterator_spark.plans.audit import formatted_plan
        from easy_alterator_spark.sources import load_table

        s = spark.newSession()
        s.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "4GB",
        )
        s.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(s, SF, "lineitem")
        orders = load_table(s, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy().count()
        plan = formatted_plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan

    def test_corr_matrix_single_scan(self, spark, queries):
        """All pairwise correlations fold into ONE partial+final
        aggregation over one scan — a per-pair UNION of scans (the
        oracle's formulation) would read the fact table three times."""
        from easy_alterator_spark.plans.audit import formatted_plan

        plan = formatted_plan(queries["stats_corr_matrix"](spark, SF))
        # formatted mode prints each scan twice (tree line + detail
        # block); count the detail blocks' Location lines
        assert plan.count("Location: InMemoryFileIndex") == 1, plan
        assert "Union" not in plan

    def test_basket_pairs_reuses_basket_exchange(self, spark, queries):
        """The basket aggregate subtree feeds pair explosion, item
        counts, and the basket count; AQE must plan it once and reuse
        the exchange instead of re-scanning lineitem per consumer."""
        from easy_alterator_spark.plans.audit import executed_plan

        plan = executed_plan(queries["mine_basket_pairs"](spark, SF))
        assert "ReusedExchange" in plan, plan
        assert "CartesianProduct" not in plan

    def test_rendezvous_assignment_is_map_only(self, spark, queries):
        """Both shard assignments are row-local expressions: the only
        exchange in the whole resize audit is the final 9-row rollup —
        no join anywhere."""
        from easy_alterator_spark.plans.audit import (
            exchange_count,
            formatted_plan,
            join_counts,
        )

        plan = formatted_plan(queries["shard_rendezvous_resize"](spark, SF))
        assert sum(join_counts(plan).values()) == 0, plan
        assert exchange_count(plan) <= 2, plan

    def test_khop_no_cartesian_frontier(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        jc = join_counts(formatted_plan(queries["graph_khop"](spark, SF)))
        assert jc["CartesianProduct"] == 0


class TestOracleDtypeContract:
    """The driver hashes dtype-SENSITIVELY through pandas: Spark
    ``.toPandas()`` vs DuckDB ``.df()``. An oracle whose declared
    output type lands on a different pandas dtype class than the
    Spark schema (the classic: uncast ``SUM(BIGINT)`` widens to
    HUGEINT, which pandas renders float64 while Spark emits int64)
    hash-mismatches on every row even when the VALUES are identical —
    this kept eval_lang_id_report driver-red for three rounds. Lock
    the contract for every oracle-bearing registry entry:

    (a) every Spark output column is atomic-typed (array/map/struct
        cells crash the driver's canonicalizer), and
    (b) the DuckDB DESCRIBE type of every oracle column maps to the
        SAME pandas dtype class as the Spark schema.
    """

    # DuckDB declared type -> pandas-dtype class as ``.df()`` renders
    # it. HUGEINT/UHUGEINT become float64 — the whole point.
    @staticmethod
    def _duck_class(t: str) -> str:
        import re

        t = t.upper()
        if t in ("HUGEINT", "UHUGEINT"):
            return "float"
        if re.fullmatch(r"U?TINYINT|U?SMALLINT|U?INTEGER|U?BIGINT|INT\d*", t):
            return "int"
        if t in ("DOUBLE", "FLOAT", "REAL"):
            return "float"
        if t.startswith("DECIMAL"):
            return "decimal"
        if t == "BOOLEAN":
            return "bool"
        if t == "VARCHAR":
            return "str"
        if t.startswith("TIMESTAMP"):
            return "ts"
        if t == "DATE":
            return "date"
        if t == "BLOB":
            return "bytes"
        return f"OTHER:{t}"

    @staticmethod
    def _spark_class(dt) -> str:
        from pyspark.sql import types as T

        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "int"
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return "float"
        if isinstance(dt, T.DecimalType):
            return "decimal"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.StringType):
            return "str"
        if isinstance(dt, T.TimestampType):
            return "ts"
        if isinstance(dt, T.DateType):
            return "date"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        return f"NONATOMIC:{dt.simpleString()}"

    def test_every_oracle_dtype_agrees_with_spark_schema(self, spark, built_all):
        import duckdb

        from easy_alterator_spark.queries import ORACLES, load_all
        from easy_alterator_spark.sources import TABLE_NAMES

        load_all()
        con = duckdb.connect()
        for n in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {n} AS SELECT * FROM "
                f"read_parquet('{SF}/{n}.parquet')"
            )
        problems = []
        for name, sql in sorted(ORACLES.items()):
            sch = {
                f.name: self._spark_class(f.dataType)
                for f in built_all[name].schema.fields
            }
            for col, cls in sch.items():
                if cls.startswith("NONATOMIC"):
                    problems.append(f"{name}.{col}: spark {cls}")
            for col, typ, *_ in con.execute("DESCRIBE " + sql).fetchall():
                dc, sc = self._duck_class(typ), sch.get(col, "MISSING")
                if dc != sc:
                    problems.append(
                        f"{name}.{col}: spark={sc} duck={dc} ({typ}) — "
                        "cast the oracle (e.g. SUM(x)::BIGINT) or the query"
                    )
        assert not problems, "\n".join(problems)


class TestRound7Plans:
    def test_interval_overlap_is_bucketized_not_nested_loop(self, spark, queries):
        """The session-overlap pair search must plan as an equi-join
        on hour buckets (hash join), never a nested loop over
        |sessions|² — the whole point of the bucketization."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["join_interval_overlap"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastNestedLoopJoin"] == 0, plan
        assert jc["CartesianProduct"] == 0, plan
        assert jc["BroadcastHashJoin"] + jc["SortMergeJoin"] >= 1

    def test_transition_matrix_broadcasts_normalizer(self, spark, queries):
        """The per-from-type normalizer join is dimension-sized (one
        row per event type): it must broadcast, never sort-merge on
        the pair table."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_transition_matrix"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 1, plan
        assert jc["SortMergeJoin"] == 0, plan

    def test_feature_hashing_is_explode_plus_partial_agg(self, spark, queries):
        """The hashing trick's scale contract: no join, no window —
        token explode straight into a (doc, bucket) hash aggregate
        (partial + final), with no vocabulary stage anywhere."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["text_feature_hashing"](spark, SF))
        jc = join_counts(plan)
        assert sum(jc.values()) == 0, plan
        assert "Generate" in plan, plan  # the token explode
        assert plan.count("HashAggregate") >= 2, plan  # partial + final

    def test_bitmap_retention_is_bit_algebra_not_distinct_counts(self, spark, queries):
        """Per-user bitmaps fold in ONE user-keyed aggregate; the only
        join is the one-row cohort-size broadcast. No sort-merge join,
        no per-(cohort, week) distinct-count expansion."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_bitmap_retention"](spark, SF))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["CartesianProduct"] == 0, plan
        assert "bit_or" in plan, plan  # the bitmap fold is the aggregate

    def test_sample_quantiles_filter_precedes_all_shuffles(self, spark, queries):
        """The deterministic Bernoulli sample must be applied at the
        scan stage (before any Exchange), and the rank-statistic pick
        needs no join anywhere."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["sketch_sample_quantiles"](spark, SF))
        assert sum(join_counts(plan).values()) == 0, plan
        # sample predicate sits in a Filter node directly over the scan
        filter_detail = [
            seg for seg in plan.split("\n(") if seg.startswith("2) Filter")
        ]
        assert filter_detail and "md5" in filter_detail[0], plan
        # window partitioning and the final groupBy share one exchange
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1, plan

    def test_trigram_novelty_single_corpus_pass(self, spark, queries):
        """per_src is localCheckpointed so BOTH rollups (totals +
        first-seen) read the materialized aggregate — the final plan
        must contain NO parquet scan (the corpus map ran exactly once,
        inside the checkpoint job) and no cartesian anywhere."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        df = queries["text_trigram_novelty"](spark, SF)
        plan = formatted_plan(df)
        assert "Scan parquet" not in plan and "FileScan" not in plan, plan
        assert "ExistingRDD" in plan, plan
        assert join_counts(plan)["CartesianProduct"] == 0


class TestRound7bPlans:
    def test_ks_test_joins_are_broadcast_only(self, spark, queries):
        """Both reductions (the (n1,n2) totals and the max-gap row)
        are one-row sides: they must broadcast; a sort-merge join on
        the distinct-value table would shuffle it twice for nothing."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["stats_ks_test"](spark, SF))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["ShuffledHashJoin"] == 0, plan

    def test_mannwhitney_joins_only_broadcast_offsets(self, spark, queries):
        """The doubled-rank-sum form needs no DATA-sized join: per-
        value counts -> the rank.global_prefix_sum cumsum (whose only
        join is the BROADCAST of the one-row-per-partition offset
        table — round 9 replaced the single-reducer window) -> one
        global reduce. Anything shuffled-join-shaped is a regression."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["stats_mannwhitney"](spark, SF))
        jc = join_counts(plan)
        # formatted plans name each node twice (tree + detail), so one
        # physical broadcast join counts as 2
        assert jc["BroadcastHashJoin"] == 2, plan
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["ShuffledHashJoin"] == 0, plan
        assert jc["CartesianProduct"] == 0, plan

    def test_level_shift_broadcasts_both_reductions(self, spark, queries):
        """Per-type max-gap and best-split tables are type-sized (5
        rows): both joins back to the per-(type,day) table broadcast;
        the only exchanges partition by event_type."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_level_shift"](spark, SF))
        jc = join_counts(plan)
        assert jc["BroadcastHashJoin"] >= 2, plan
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["CartesianProduct"] == 0, plan

    def test_rfm_single_user_grained_aggregate(self, spark, queries):
        """RFM's data-sized work is ONE user-grained hash aggregate;
        the anchor is a one-row broadcast (never a shuffle join), and
        no sort-merge join appears anywhere."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_rfm_segments"](spark, SF))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["CartesianProduct"] == 0, plan

    def test_compaction_bins_join_free_single_source_exchange(self, spark, queries):
        """The compaction planner is join-free: one window partitioned
        by source, one aggregate — nothing shuffles twice."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["layout_compaction_bins"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_target_encode_global_rate_broadcasts(self, spark, queries):
        """The global-rate side is one row: it must broadcast onto the
        category table, never shuffle it."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["feature_target_encode"](spark, SF))
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["ShuffledHashJoin"] == 0, plan

    def test_nearest_event_is_join_free(self, spark, queries):
        """Nearest-join decomposes to ONE user-partitioned sort with
        two RANGE-framed window passes — zero joins of any kind."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["join_nearest_event"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_slice_scan_single_expand_no_shuffle_join(self, spark, queries):
        """All three lattice levels ride one Expand + one shuffle; the
        global-rate side is a one-row broadcast."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["dq_slice_scan"](spark, SF))
        assert plan.count("Expand") >= 1, plan
        jc = join_counts(plan)
        assert jc["SortMergeJoin"] == 0, plan
        assert jc["ShuffledHashJoin"] == 0, plan

    def test_acf_never_plans_a_cartesian(self, spark, queries):
        """The 7-row lag list explodes via broadcast; the lag join is
        an equi-join on (type, day+lag) — no cartesian anywhere."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_acf"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0, plan

    def test_velocity_single_user_sort_no_join(self, spark, queries):
        """The trailing-window burst is one RANGE frame per user
        partition — no self-join, no candidate-window explode."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_velocity_flags"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_user_entropy_is_one_aggregate(self, spark, queries):
        """Pivoted entropy: one user-grained hash aggregate, zero
        joins, zero windows — the fixed-column design's whole point."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_user_entropy"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan
        assert "Window" not in plan, plan

    def test_srm_check_join_free(self, spark, queries):
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["stats_srm_check"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_cohort_ltv_no_join_two_windows(self, spark, queries):
        """Cohort labelling is a per-user MIN window on the stream —
        never a join against a firsts table."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_cohort_ltv"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_rake_no_join_no_pair_table(self, spark, queries):
        """RAKE's co-occurrence comes from running-count windows, not
        a token-pair self-join — the O(len^2) trap."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["text_rake_scores"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_welch_is_one_conditional_aggregate(self, spark, queries):
        """Six int64 moments fold in ONE map-side-partial aggregate —
        no join, no window, one row out."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["stats_welch_ttest"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan
        assert "Window" not in plan, plan

    def test_dedup_impact_shuffles_hash_not_text(self, spark, queries):
        """The keeper window shuffles on the md5 fingerprint; the
        document text column must not survive past the scan
        projection."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["dedup_impact_report"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_readability_is_pure_projection(self, spark, queries):
        """Three regex counts + a fixed float tree: the plan must be a
        scan + project with NO exchange at all."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["text_readability"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan
        assert "Exchange" not in plan, plan

    def test_knn_vote_layer_keeps_truth_broadcast(self, spark, queries):
        """The probe-truth lookup is probe-sized: broadcast, never a
        shuffle of the vote table."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["sim_knn_classify"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0, plan
        assert jc["BroadcastHashJoin"] >= 1, plan

    def test_new_vs_returning_join_free(self, spark, queries):
        """First-day labelling is a window over the (user, day)
        distinct table — no firsts-table join."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_new_vs_returning"](spark, SF))
        jc = join_counts(plan)
        assert all(v == 0 for v in jc.values()), plan

    def test_stickiness_cover_joins_at_day_grain(self, spark, queries):
        """The 30x cover explode happens at (user, day) grain and the
        DAU/MAU join is day-keyed — no cartesian, no SMJ on raw
        events."""
        from easy_alterator_spark.plans.audit import formatted_plan, join_counts

        plan = formatted_plan(queries["events_stickiness"](spark, SF))
        jc = join_counts(plan)
        assert jc["CartesianProduct"] == 0, plan

    def test_continuation_queries_prune_scans(self, spark, queries):
        """Column pruning is the first 100 TB lever: every continuation
        query's parquet scan must read only the columns its expressions
        need — a scan dragging `props` or `text` it never uses is a
        silent 10x on real data."""
        from easy_alterator_spark.plans.audit import assert_reads_only

        cases = [
            ("stats_welch_ttest", "event_type", {"event_type", "value"}),
            ("stats_srm_check", "event_type", {"event_type", "user_id"}),
            (
                "events_velocity_flags",
                "user_id",
                {"user_id", "ts"},
            ),
            ("events_level_shift", "event_type", {"event_type", "ts"}),
            ("events_new_vs_returning", "user_id", {"user_id", "ts"}),
            ("events_dow_profile", "event_type", {"event_type", "ts"}),
            ("events_stickiness", "user_id", {"user_id", "ts"}),
            ("events_user_entropy", "user_id", {"user_id", "event_type"}),
            (
                "dedup_impact_report",
                "doc_id",
                {"doc_id", "source", "n_chars", "text"},
            ),
            (
                "layout_compaction_bins",
                "source",
                {"source", "doc_id", "n_chars"},
            ),
            ("text_readability", "doc_id", {"doc_id", "text"}),
            ("text_rake_scores", "doc_id", {"doc_id", "text"}),
            ("feature_target_encode", "o_orderpriority",
             {"o_orderpriority", "o_orderstatus"}),
        ]
        for name, marker, allowed in cases:
            df = queries[name](spark, SF)
            assert_reads_only(df, marker, allowed)
        # ks/mwu/rfm pin their range partitioning via rank._range_tagged
        # (a localCheckpoint), which truncates the visible plan at the
        # checkpoint — assert pruning on their UN-pinned upstreams,
        # where the parquet scan is still in the explain output
        from easy_alterator_spark.operators.nonparam import _value_counts
        from easy_alterator_spark.queries.analytics import _rfm_user_metrics
        from easy_alterator_spark.sources import load_table

        ev = load_table(spark, SF, "events")
        vc = _value_counts(ev, "value", "event_type", "purchase", "view")
        assert_reads_only(vc, "event_type", {"event_type", "value"})
        assert_reads_only(
            _rfm_user_metrics(ev),
            "user_id",
            {"user_id", "ts", "event_type", "value"},
        )

    def test_no_unbounded_following_frames(self, spark, queries):
        """Spark executes UnboundedFollowing frames by re-aggregating
        the rest of the partition PER ROW (O(n²) per key — measured 5x
        on a 1M-row zipf stream). Forward/nearest carries must run as
        running accumulations over reversed order instead. Guard every
        windowed time-join query."""
        from easy_alterator_spark.plans.audit import formatted_plan

        for name in (
            "join_nearest_event",
            "join_point_in_time",
            "join_time_to_next",
            "events_asof_join",
        ):
            plan = formatted_plan(queries[name](spark, SF))
            assert "unboundedfollowing$()" not in plan.lower().replace(
                " ", ""
            ), (name, plan)


class TestNoGlobalWindowContract:
    """Registry-wide invariant (round 9, VERDICT r8 task 2): no
    registered query may execute a Window function over an
    UN-PARTITIONED data-sized input — `... OVER (ORDER BY ...)` with
    an empty partition spec funnels its whole input through ONE task,
    the canonical 100 TB anti-pattern. The sanctioned exceptions:

    - the operators/rank.py terasort decomposition's offsets window
      (orders by the synthetic `__pid`; one row per partition — KBs),
      recognized structurally and always allowed;
    - the explicitly allowlisted queries below, each of whose global
      windows run over a DIMENSION-grained or pre-bounded input, with
      the bound stated per entry.

    This converts the docstring promises ('swap in rank.py at 100 TB')
    into an enforced invariant: registering a new naive global-window
    query fails this test until it is decomposed or justified here.
    """

    # query -> why its empty-partition window input is bounded
    ALLOWED = {
        # three summary rows (brute/prefix/snm), per its own comment
        "dedup_blocking_recall": "3-row method-summary table",
        # the banding itself runs through rank.global_ntile; the
        # remaining global windows are the 10-row decile cumsums
        "events_lorenz_deciles": "10-row decile table",
        # decile cut via rank.global_ntile; the only global window is
        # the cumulative-positives sum over the TEN-row decile table
        "eval_lift_cumgains": "10-row decile table",
        # the cumulative window runs over the LOOK table — one row per
        # calendar day (~30), never the data
        "stats_sequential_obf": "calendar-day-grained look table",
        # CUSUM prefix + peak over the calendar-day table (~30 rows)
        "events_cusum_changepoint": "calendar-day-grained look table",
        # median rank + runs lag over the calendar-day table (~30 rows)
        "stats_runs_test": "calendar-day-grained look table",
        # risk table is per-DISTINCT-event-day: calendar-bounded
        "events_survival_km": "distinct-day risk table (calendar)",
        # rank over the item dimension (distinct $.k values)
        "events_trending_items": "item-dimension-grained rank",
        "events_rank_stability_rbo": "item-dimension-grained rank",
        # rank over event-type trigrams: |types|^3 <= 125 rows
        "events_path_trigrams": "type-trigram-grained (<= |types|^3)",
        # rank over min-support-filtered item pairs (co >= 5 cut
        # upstream); item-dimension-squared worst case
        "mine_basket_pairs": "support-filtered item-pair table",
        # each arm's rank window runs over its top-m (50-row) list,
        # bounded by the preceding TakeOrderedAndProject
        "search_hybrid_rrf": "top-m (50-row) arm lists",
        # rank over the 32 Poisson bootstrap replicates — a
        # fixed-width replicate table (r12: visible again because the
        # sweep now runs under no_pin(); r11 had dropped it when the
        # replicate-table pin hid it from the audit)
        "stats_bootstrap_poisson": "32-row replicate table",
        # r11 removal kept: search_eval_metrics' per-arm windows
        # became ONE term-partitioned (non-empty-partition) window.
    }

    def test_registry_has_no_naive_global_windows(self, spark, built_all):
        from easy_alterator_spark.plans.audit import empty_partition_windows

        offenders, allow_hits = {}, set()
        for name, df in built_all.items():
            if name.startswith("stream_"):
                # streaming twins execute micro-batches eagerly on
                # construction; their batch twins cover the plan shape
                continue
            # r12 (VERDICT-r11 task 4): built_all constructs under
            # no_pin(), so this sweep audits the PRE-PIN plan — a lazy
            # localCheckpoint truncates the printed plan at a
            # LogicalRDD, so a naive global window behind a pin would
            # otherwise be invisible to this registry-wide contract.
            ws = [
                w
                for w in empty_partition_windows(df)
                if "__pid" not in w
            ]
            if not ws:
                continue
            if name in self.ALLOWED:
                allow_hits.add(name)
            else:
                offenders[name] = ws
        assert not offenders, (
            "naive single-reducer global windows (decompose via "
            f"operators/rank.py or justify in ALLOWED): {offenders}"
        )
        stale = set(self.ALLOWED) - allow_hits
        assert not stale, (
            f"ALLOWED entries no longer needed — remove them: {stale}"
        )
