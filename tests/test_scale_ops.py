"""Scale-path tests: bucketed co-located joins (no Exchange) and the
Morton z-value interleave."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF001
from data_engineering_hs_spark.operators.scale import write_bucketed


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        # warehouse.dir is a static conf; managed tables land in the
        # default ./spark-warehouse (gitignored). Drop AND remove the
        # locations — an interrupted run can orphan the directory
        # while the metastore forgets the table.
        import shutil

        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        for t in ("b_orders", "b_lineitem"):
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        orders = spark.range(0, 1000).select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") % 7).alias("o_custkey"),
        )
        lineitem = spark.range(0, 5000).select(
            (F.col("id") % 1000).alias("l_orderkey"),
            (F.col("id") % 13).cast("double").alias("l_quantity"),
        )
        write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8,
                       sort_cols=["o_orderkey"])
        write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], num_buckets=8,
                       sort_cols=["l_orderkey"])
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        # disable broadcast so the join would otherwise shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    def test_unbucketed_same_join_does_exchange(self, spark):
        # control: the same join without bucketing shuffles both sides
        orders = spark.range(0, 1000).select(F.col("id").alias("o_orderkey"))
        lineitem = spark.range(0, 5000).select(
            (F.col("id") % 1000).alias("l_orderkey")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


class TestRuntimeBloomFilter:
    def test_selective_join_injects_bloom_filter(self, spark):
        # Runtime row-level filtering: with broadcast disabled (the
        # big-cluster regime where both sides shuffle), a selective
        # dim filter should inject a bloom_filter_agg on the dim side
        # and a might_contain probe into the fact scan — rows that
        # can't join are dropped BEFORE the shuffle.
        from pyspark.sql import functions as F

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            l = spark.read.parquet(f"{SF001}/lineitem.parquet")
            o = spark.read.parquet(f"{SF001}/orders.parquet").filter(
                F.col("o_totalprice") > 450000
            )
            j = l.join(o, l.l_orderkey == o.o_orderkey)
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in plan
            assert "might_contain" in plan
            # and the filtered join still returns correct rows
            n = j.count()
            exact = (
                l.join(o.select("o_orderkey").distinct(), l.l_orderkey == F.col("o_orderkey"))
                .count()
            )
            assert n == exact
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestBucketedIncrementalStores:
    """A band store written as a table bucketed on its groupBy keys
    aggregates Exchange-free (NEXT.md §6)."""

    def test_bucketed_lsh_store_groupby_has_no_exchange(self, spark):
        import shutil

        from data_engineering_hs_spark.operators.dedup import lsh_band_buckets

        spark.sql("DROP TABLE IF EXISTS b_lsh_store")
        shutil.rmtree("spark-warehouse/b_lsh_store", ignore_errors=True)
        docs = spark.createDataFrame(
            [(i, f"some repeated words number {i % 5} in every doc here")
             for i in range(40)],
            ["doc_id", "text"],
        )
        bands = lsh_band_buckets(docs, "text", "doc_id")
        write_bucketed(bands, "b_lsh_store", ["band", "bucket"], num_buckets=8)
        store = spark.table("b_lsh_store")
        grouped = store.groupBy("band", "bucket").agg(
            F.collect_list("doc_id").alias("ids")
        )
        plan = grouped._jdf.queryExecution().executedPlan().toString()
        # the bucketed scan already satisfies the clustering → the
        # store-side aggregation shuffles nothing
        assert "Exchange" not in plan, plan
        assert grouped.count() > 0


class TestZOrder:
    def test_zvalue_interleave_known_bits(self, spark):
        from data_engineering_hs_spark.operators.scale import zvalue

        df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
        z = df.select(zvalue(["a", "b"], bits=3).alias("z")).first().z
        # bit i of a → position 2i; bit i of b → position 2i+1
        # a=101, b=011 → z = a0<<0 | b0<<1 | a1<<2 | b1<<3 | a2<<4 | b2<<5
        #               = 1 | 2 | 0 | 8 | 16 | 0 = 27
        assert z == 27


class TestAqeSkewJoin:
    """AQE's skew-join split must actually fire on a pathological key
    — the engine's one skew fix (SCALE.md 'Joins'). Asserted on the
    FINAL adaptive plan: Spark only marks SortMergeJoin(skew=true)
    after execution."""

    CONFS = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }

    def test_hot_key_join_splits_under_aqe(self, spark):
        saved = {}
        for k, v in self.CONFS.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        try:
            fact = spark.range(210000).select(
                F.when(F.col("id") < 200000, F.lit(0))
                .otherwise(F.col("id") % 100)
                .alias("k"),
                F.concat(F.lit("payload-payload-"), F.col("id").cast("string")).alias(
                    "v"
                ),
            )
            dim = spark.range(100).select(
                F.col("id").alias("k"), F.col("id").cast("string").alias("d")
            )
            j = fact.join(dim, "k")
            rows = j.count()
            j.collect()  # materialize THIS dataset so its QueryExecution finalizes
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, "AQE did not split the hot key"
            assert rows == 210000  # splitting never changes results
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestIncrementalMaterializedView:
    """Partial-state MV maintenance (operators/incremental.py):
    increments append partial aggregates to a key-bucketed store;
    the read-time merge must equal one-shot recomputation and read
    Exchange-free off the bucketing."""

    MEASURES = {
        "total": ("sum", "v"),
        "n": ("count", "*"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }

    def _fresh(self, spark, name):
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)

    def test_two_increments_equal_full_recompute(self, spark):
        from data_engineering_hs_spark.operators import incremental as I

        self._fresh(spark, "t_mv_a")
        full = spark.createDataFrame(
            [(i % 7, i * 10) for i in range(200)], ["k", "v"]
        )
        inc1 = full.filter(F.col("v") < 1000)
        inc2 = full.filter(F.col("v") >= 1000)
        I.commit_increment(
            I.partial_aggs(inc1, ["k"], self.MEASURES), "t_mv_a", ["k"],
            overwrite=True,
        )
        I.commit_increment(
            I.partial_aggs(inc2, ["k"], self.MEASURES), "t_mv_a", ["k"]
        )
        got = {
            r["k"]: (r["total"], r["n"], r["lo"], r["hi"])
            for r in I.materialize(
                spark, "t_mv_a", ["k"], self.MEASURES
            ).collect()
        }
        want = {
            r["k"]: (r["total"], r["n"], r["lo"], r["hi"])
            for r in I.partial_aggs(full, ["k"], self.MEASURES).collect()
        }
        assert got == want

    def test_merge_reads_exchange_free(self, spark):
        from data_engineering_hs_spark.operators import incremental as I

        self._fresh(spark, "t_mv_b")
        full = spark.createDataFrame(
            [(i % 5, i) for i in range(100)], ["k", "v"]
        )
        for j, inc in enumerate(
            (full.filter(F.col("v") % 2 == 0), full.filter(F.col("v") % 2 == 1))
        ):
            I.commit_increment(
                I.partial_aggs(inc, ["k"], self.MEASURES), "t_mv_b", ["k"],
                overwrite=(j == 0), num_buckets=8,
            )
        mv = I.materialize(spark, "t_mv_b", ["k"], self.MEASURES)
        plan = mv._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

    def test_bootstrap_repairs_dangling_dir_qualified_name(self, spark):
        """A dangling warehouse dir (left by a dead session whose
        in-memory catalog is gone) must not block bootstrap — for
        DB-QUALIFIED names too, whose layout is <wh>/<db>.db/<tbl>,
        not <wh>/<tbl> (r8: the repair previously only cleared the
        default-database path)."""
        import os

        from data_engineering_hs_spark.operators import incremental as I

        spark.sql("CREATE DATABASE IF NOT EXISTS mvdb")
        spark.sql("DROP TABLE IF EXISTS mvdb.t_mv_q")
        # plant the dangling dir exactly where a managed mvdb table
        # would live; saveAsTable would throw LOCATION_ALREADY_EXISTS
        dangling = "spark-warehouse/mvdb.db/t_mv_q"
        os.makedirs(dangling, exist_ok=True)
        with open(os.path.join(dangling, "stray.parquet"), "w") as f:
            f.write("not a real file")
        df = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
        I.commit_increment(
            I.partial_aggs(df, ["k"], self.MEASURES),
            "mvdb.t_mv_q", ["k"], overwrite=True, num_buckets=4,
        )
        got = {
            r["k"]: r["total"]
            for r in I.materialize(
                spark, "mvdb.t_mv_q", ["k"], self.MEASURES
            ).collect()
        }
        assert got == {1: 10, 2: 20}
        assert not os.path.exists(os.path.join(dangling, "stray.parquet"))
        spark.sql("DROP TABLE IF EXISTS mvdb.t_mv_q")
        spark.sql("DROP DATABASE IF EXISTS mvdb")
