"""Physical-plan assertions: the optimizations claimed in README /
SURVEY §4 must be visible in the executed plan, not just intended.

Checked at sf0.01 (plan shapes don't change with SF for these)."""

from __future__ import annotations

import pytest

from data_engineering_hs_spark.plans.inspect import plan_string, plan_summary
from data_engineering_hs_spark.queries import REGISTRY, load_all
from tests.conftest import SF001

load_all()


@pytest.fixture(autouse=True)
def _raw_scans():
    # plan assertions require real parquet scans — force the
    # driver-path table cache off regardless of test ordering
    from data_engineering_hs_spark.catalog import enable_table_cache

    enable_table_cache(False)
    yield


def _plan(spark, name: str) -> str:
    return plan_string(REGISTRY[name].fn(spark, SF001))


class TestPlanShapes:
    def test_flagship_joins_are_broadcast(self, spark):
        summary = plan_summary(REGISTRY["flagship_daily_kpi"].fn(spark, SF001))
        assert summary["broadcast_joins"] >= 3
        # no sort-merge join should appear at this scale
        assert summary["sort_merge_joins"] == 0

    def test_filter_pushdown_reaches_scan(self, spark):
        plan = _plan(spark, "p_compound_filter")
        assert "PushedFilters: [" in plan
        assert "GreaterThanOrEqual(l_quantity,45" in plan

    def test_column_pruning_reaches_scan(self, spark):
        plan = _plan(spark, "q1_pricing_summary")
        # only the 7 needed columns are read from the 11-column table
        readschema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "l_orderkey" not in readschema
        assert "l_extendedprice" in readschema

    def test_global_topk_avoids_full_sort(self, spark):
        plan = _plan(spark, "o_global_topk")
        assert "TakeOrderedAndProject" in plan

    def test_semi_and_anti_join_operators(self, spark):
        assert "LeftSemi" in _plan(spark, "j_semi_join")
        assert "LeftAnti" in _plan(spark, "j_anti_join")

    def test_partial_aggregation_present(self, spark):
        # partial/final hash agg = the distributed map-side combine (A9)
        plan = _plan(spark, "a_group_count")
        assert plan.count("HashAggregate") >= 2

    def test_whole_stage_codegen_covers_scan_agg(self, spark):
        import contextlib
        import io

        df = REGISTRY["q1_pricing_summary"].fn(spark, SF001)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("codegen")
        assert "WholeStageCodegen" in buf.getvalue()

    def test_dedup_pair_generation_has_no_join(self, spark):
        # minhash pipeline: signatures are aggregated once, pairs explode
        # from bucket arrays — any join would mean double signature compute
        plan = _plan(spark, "d_minhash_lsh")
        assert "Join" not in plan
        assert "Generate explode" in plan

    def test_stream_static_dim_join_is_broadcast(self, spark):
        # st_enriched_by_nation's logical shape: the static nation dim
        # must broadcast so the (unbounded) stream side never shuffles
        # for the lookup. Assert on the batch twin of the same plan.
        from data_engineering_hs_spark.catalog import load_table
        from pyspark.sql import functions as F

        e = load_table(spark, SF001, "events")
        n = load_table(spark, SF001, "nation").select(
            "n_nationkey", F.col("n_name").alias("nation")
        )
        joined = e.join(
            F.broadcast(n),
            F.pmod(F.col("user_id"), F.lit(25)) == F.col("n_nationkey"),
        ).groupBy("nation").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_profile_single_scan_no_union(self, spark):
        # all columns profiled in ONE aggregate pass — a naive
        # per-column implementation shows a Union of one scan per column
        plan = _plan(spark, "dq_profile_documents")
        assert "Union" not in plan
        assert "Aggregate" in plan  # multi-distinct → Sort/ObjectHashAgg


class TestRound6PlanShapes:
    def test_bm25_one_pass_shape(self, spark):
        # r16 restructure: ONE corpus tokenize pass behind a lazy
        # localCheckpoint (the pre-r16 shape re-scanned the corpus
        # four times: tf, df re-derived through tf, dl, stats). The
        # plan must show NO parquet scans of documents (the proxy RDD
        # replaces them), the 1-row stats frame still broadcasts, and
        # df comes from a window over the postings frame, not a join.
        plan = _plan(spark, "s_bm25_topk")
        # the 1-row stats frame attaches as a broadcast nested-loop
        # cross (the sanctioned scalar-frame shape) — it must never
        # become a real CartesianProduct
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        assert "Scan parquet" not in plan, (
            "bm25 re-grew a direct corpus scan — the one-pass proxy "
            "checkpoint (-12.8% measured) has been bypassed"
        )
        # positive pin of the proxy shape (r17 advice follow-up): the
        # absence check above is brittle across Spark versions (a DSv2
        # read would render as BatchScan, not 'Scan parquet'); the
        # checkpointed proxy must itself be visible as the leaf
        assert "Scan ExistingRDD" in plan, (
            "the materialized-proxy leaf vanished — either the "
            "checkpoint was removed or the plan rendering changed; "
            "re-verify the one-pass shape before trusting this test"
        )
        assert "Window" in plan  # df = count over term partitions
        assert "TakeOrderedAndProject" in plan  # top-k, not full sort

    def test_negative_pairs_single_equi_join_no_cartesian(self, spark):
        plan = _plan(spark, "t_negative_pairs")
        # the only cartesian-ish node is the sanctioned 1-row scalar
        # broadcast; the pair materialization must NOT be a cross join
        assert "CartesianProduct" not in plan

    def test_outliers_broadcast_med_and_mad(self, spark):
        summary = plan_summary(REGISTRY["dq_value_outliers"].fn(spark, SF001))
        assert summary["broadcast_joins"] >= 2

    def test_segment_dedup_single_exchange_per_stage(self, spark):
        plan = _plan(spark, "t_segment_dedup")
        # one shuffle on segment text (window) + one back on doc_id
        # (groupBy); no join at all in the plan
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_snapshot_diff_null_safe_key_is_equi_join(self, spark):
        # the null-safe key condition must compile to a real equi-join
        # (SMJ/SHJ on coalesce(k)/isnull(k)), never a nested loop —
        # the property the 20M-row CDC stress in SCALE.md relies on
        plan = _plan(spark, "c_snapshot_diff")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "FullOuter" in plan

    def test_scd2_two_windows_share_one_shuffle(self, spark):
        plan = _plan(spark, "c_scd2_priority")
        # both window passes partition by o_custkey: Spark must plan
        # exactly one hash exchange for them
        assert plan.count("Exchange hashpartitioning(o_custkey") == 1

    def test_market_basket_no_cartesian_and_broadcast_counts(self, spark):
        plan = _plan(spark, "a_market_basket")
        assert "CartesianProduct" not in plan
        summary = plan_summary(REGISTRY["a_market_basket"].fn(spark, SF001))
        # part-count sides + the 1-row scalar frame broadcast
        assert summary["broadcast_joins"] >= 2

    def test_event_transitions_single_user_shuffle(self, spark):
        plan = _plan(spark, "a_event_transitions")
        assert plan.count("Exchange hashpartitioning(user_id") == 1


class TestRound7PlanShapes:
    def test_pq_topk_lut_and_queries_broadcast(self, spark):
        # the ADC lookup table and the query vectors must broadcast —
        # the corpus codes are the only big side and never shuffle
        # for the scoring join
        from data_engineering_hs_spark.operators.similarity import (
            pq_topk,
            pq_train,
        )
        from pyspark.sql import functions as F

        e = spark.read.parquet(f"{SF001}/embeddings.parquet")
        cb = pq_train(e, iters=1)
        q = e.filter(F.col("vec_id") < 5)
        plan = plan_string(pq_topk(e, q, cb, k=5, shortlist=20))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_grid_rollup_partial_agg_and_pruned_scan(self, spark):
        plan = _plan(spark, "g_grid_rollup")
        # partial aggregation before the zoom-cell shuffle
        assert "partial_count" in plan
        readschema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "props" not in readschema  # column pruning holds

    def test_attribution_no_cartesian(self, spark):
        plan = _plan(spark, "a_attribution_models")
        assert "CartesianProduct" not in plan

    def test_hll_rolling_reads_events_once_per_branch(self, spark):
        plan = _plan(spark, "a_rolling_distinct_hll")
        assert "CartesianProduct" not in plan

    def test_referential_integrity_broadcasts_small_parents(self, spark):
        from data_engineering_hs_spark.plans.inspect import plan_summary

        summary = plan_summary(
            REGISTRY["dq_referential_integrity"].fn(spark, SF001)
        )
        # nation/region/supplier/part/customer parents all broadcast;
        # no sort-merge anti-join should appear at dim scale
        assert summary["broadcast_joins"] >= 5


class TestParquetAggregatePushdown:
    def test_min_max_count_answered_from_footer_stats(self, spark):
        """Parquet V2 scans can answer MIN/MAX/COUNT from row-group
        statistics without reading data pages — the metadata-only
        fast path for freshness/rowcount probes over huge tables.
        Requires BOTH spark.sql.parquet.aggregatePushdown=true AND
        the V2 read path (useV1SourceList must exclude parquet);
        with defaults the plan silently falls back to a full scan."""
        from pyspark.sql import functions as F

        old = {
            "spark.sql.parquet.aggregatePushdown": spark.conf.get(
                "spark.sql.parquet.aggregatePushdown", None
            ),
            "spark.sql.sources.useV1SourceList": spark.conf.get(
                "spark.sql.sources.useV1SourceList", None
            ),
        }
        try:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
            spark.conf.set("spark.sql.sources.useV1SourceList", "")
            df = spark.read.parquet(f"{SF001}/lineitem.parquet")
            agg = df.agg(
                F.min("l_shipdate").alias("lo"),
                F.max("l_shipdate").alias("hi"),
                F.count("*").alias("n"),
            )
            plan = plan_string(agg)
            assert "PushedAggregation" in plan, plan
            row = agg.collect()[0]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        # stats-only answers must equal the data-path answers
        df2 = spark.read.parquet(f"{SF001}/lineitem.parquet")
        truth = df2.agg(
            F.min("l_shipdate"), F.max("l_shipdate"), F.count("*")
        ).collect()[0]
        assert (row["lo"], row["hi"], row["n"]) == tuple(truth)


class TestRound8PlanShapes:
    def test_cms_build_single_exchange_with_partial_agg(self, spark):
        """The sketch build must be ONE (d, cell) hash shuffle with
        map-side partial aggregation — the shuffle then carries at
        most depth*width rows per map task whatever the input size."""
        from data_engineering_hs_spark.operators.sketch import cms_build

        li = spark.read.parquet(f"{SF001}/lineitem.parquet").select(
            "l_suppkey"
        )
        plan = plan_string(cms_build(li, "l_suppkey", depth=4, width=1024))
        assert plan.count("Exchange") == 1, plan
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan

    def test_cms_estimate_no_cartesian(self, spark):
        from data_engineering_hs_spark.operators.sketch import (
            cms_build,
            cms_estimate,
        )
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{SF001}/lineitem.parquet").select(
            "l_suppkey"
        )
        sk = cms_build(li, "l_suppkey", depth=4, width=1024)
        probe = li.filter(F.col("l_suppkey") < 5)
        plan = plan_string(cms_estimate(sk, probe, "l_suppkey", 4, 1024))
        assert "CartesianProduct" not in plan

    def test_label_propagation_no_cartesian(self, spark):
        from data_engineering_hs_spark.operators.graph import label_propagation
        from pyspark.sql import functions as F

        e = spark.createDataFrame(
            [(i, (i * 3) % 17) for i in range(40) if i != (i * 3) % 17],
            ["src", "dst"],
        )
        # plan of one round applied to checkpointed inputs: join on
        # the node key + hash agg + window, never a cross product
        plan = plan_string(label_propagation(e, iterations=1))
        assert "CartesianProduct" not in plan


class TestRound9PlanShapes:
    def test_two_level_assignment_member_join_is_broadcast_equi(self, spark):
        # Stage 2 of the hierarchical assignment joins probed vectors
        # to centroids ON THE SUPER ID — a broadcast equi-join, never
        # a cross product; only stage 1's sanctioned condition-less
        # broadcast against the tiny super table is nested-loop.
        import numpy as np

        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )
        from data_engineering_hs_spark.plans.inspect import (
            plan_string,
            plan_summary,
        )

        rng = np.random.default_rng(7)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(j, [float(x) for x in rng.normal(size=4)]) for j in range(6)],
            "label int, centroid array<double>",
        )
        out = assign_nearest_centroid(df, cents, super_k=3, probe_supers=2)
        plan = plan_string(out)
        assert "CartesianProduct" not in plan
        assert plan_summary(out)["broadcast_joins"] >= 2
        assert "BroadcastHashJoin" in plan  # the member equi-join


class TestRound14PlanShapes:
    def test_fractional_boilerplate_total_broadcasts(self, spark):
        # The r14 scale-invariant threshold joins a 1-row distinct-doc
        # total onto the ngram counts. That join MUST be a broadcast
        # nested-loop (the sanctioned 1-row scalar-frame shape), never
        # a CartesianProduct and never an Exchange of the counts side
        # keyed for the scalar — at 100 TB the total is one long, the
        # counts side is billions of ngrams.
        from data_engineering_hs_spark.operators.corpus import (
            boilerplate_ratio,
        )
        from data_engineering_hs_spark.catalog import load_table

        d = load_table(spark, SF001, "documents").select("doc_id", "text")
        plan = plan_string(boilerplate_ratio(d, "text", "doc_id", min_doc_frac=0.01))
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1

    def test_curate_training_set_no_cartesian(self, spark):
        # Full pipeline: the only condition-less join is the 1-row
        # boilerplate-threshold broadcast.
        plan = _plan(spark, "t_curate_training_set")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1
