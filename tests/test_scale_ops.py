"""Scale-path join strategy tests: bucketed co-located joins (no
Exchange) and salted skew joins (correctness + key scatter)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF001
from data_engineering_hs_spark.operators.scale import (
    salted_join,
    write_bucketed,
)


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


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        # 90% of fact rows share one hot key — the salted join must
        # return exactly the same result as the plain join.
        fact = spark.range(0, 2000).select(
            F.when(F.col("id") % 10 != 0, F.lit(1))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 50).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("label")
        )
        plain = fact.join(dim, "k").select("k", "v", "label")
        salted = salted_join(fact, dim, "k").select("k", "v", "label")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_hot_key_scatters_across_salts(self, spark):
        fact = spark.range(0, 1000).select(
            F.lit(1).alias("k"), F.col("id").alias("v")
        )
        salt = F.pmod(
            F.xxhash64(F.col("k"), F.monotonically_increasing_id()), F.lit(16)
        )
        n_salts = fact.withColumn("s", salt).select("s").distinct().count()
        assert n_salts >= 12  # hot key spreads over most of 16 buckets

    def test_duplicate_hot_rows_scatter_and_match(self, spark):
        # BYTE-IDENTICAL hot rows (the exact-duplicate corpus case): a
        # content-hash salt would send them all to one bucket; the
        # position-based salt must scatter them AND preserve results.
        fact = spark.range(0, 1000).select(
            F.lit(1).alias("k"), F.lit("same payload").alias("v")
        )
        salt = F.pmod(
            F.xxhash64(F.col("k"), F.monotonically_increasing_id()), F.lit(16)
        )
        n_salts = fact.withColumn("s", salt).select("s").distinct().count()
        assert n_salts >= 12, f"duplicate rows collapsed to {n_salts} salts"
        dim = spark.createDataFrame([(1, "d1")], ["k", "label"])
        out = salted_join(fact, dim, "k").select("k", "v", "label")
        assert out.count() == 1000
        assert {tuple(r) for r in out.collect()} == {(1, "same payload", "d1")}

    def test_left_join_semantics_preserved(self, spark):
        fact = spark.createDataFrame(
            [(1, "a"), (2, "b"), (99, "orphan")], ["k", "v"]
        )
        dim = spark.createDataFrame([(1, "d1"), (2, "d2")], ["k", "label"])
        out = {
            (r["k"], r["label"])
            for r in salted_join(fact, dim, "k", how="left").collect()
        }
        assert out == {(1, "d1"), (2, "d2"), (99, None)}


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
    def _file_ranges(self, path, cols):
        """Per-parquet-file (min, max) of each column via footer stats."""
        import glob

        import pyarrow.parquet as pq

        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins = {c: None for c in cols}
            maxs = {c: None for c in cols}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for i in range(g.num_columns):
                    col = g.column(i)
                    name = col.path_in_schema
                    if name in cols and col.statistics is not None:
                        st = col.statistics
                        mins[name] = st.min if mins[name] is None else min(mins[name], st.min)
                        maxs[name] = st.max if maxs[name] is None else max(maxs[name], st.max)
            out.append({c: (mins[c], maxs[c]) for c in cols})
        return out

    def _files_hit(self, ranges, col, lo, hi):
        return sum(1 for r in ranges if not (r[col][1] < lo or r[col][0] > hi))

    def test_zorder_layout_skips_files_on_both_dims(self, spark, tmp_path):
        from data_engineering_hs_spark.catalog import load_table
        from data_engineering_hs_spark.operators.scale import zorder_write

        o = load_table(spark, SF001, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        naive = str(tmp_path / "naive")
        zpath = str(tmp_path / "zorder")
        # naive layout: same file count, orderkey-ranged (the default
        # "however it arrived" layout a compaction would produce)
        o.repartitionByRange(8, "o_orderkey").write.parquet(naive)
        zorder_write(o, zpath, cols=["o_custkey", "o_totalprice"], n_files=8)

        # same rows both layouts
        assert spark.read.parquet(zpath).count() == o.count()

        cols = ["o_custkey", "o_totalprice"]
        nr = self._file_ranges(naive, cols)
        zr = self._file_ranges(zpath, cols)
        assert len(zr) == 8
        # box predicate selective on BOTH dims: bottom ~quarter of each
        ck_hi = o.agg(F.expr("percentile(o_custkey, 0.25)")).first()[0]
        tp_hi = o.agg(F.expr("percentile(o_totalprice, 0.25)")).first()[0]
        naive_hits = min(
            self._files_hit(nr, "o_custkey", 0, ck_hi),
            self._files_hit(nr, "o_totalprice", 0.0, tp_hi),
        )
        z_hits = min(
            self._files_hit(zr, "o_custkey", 0, ck_hi),
            self._files_hit(zr, "o_totalprice", 0.0, tp_hi),
        )
        # orderkey-ranged files are uncorrelated with custkey/price →
        # every file intersects the box on at least one dim; z-order
        # must prune strictly more
        assert naive_hits == 8
        assert z_hits < naive_hits

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
    — the runtime complement to the explicit salted_join operator
    (SCALE.md 'Joins'). Asserted on the FINAL adaptive plan: Spark
    only marks SortMergeJoin(skew=true) after execution."""

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


class TestOptimizeTable:
    def test_optimize_compacts_and_zorders(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from data_engineering_hs_spark.operators.scale import optimize_table

        out = str(tmp_path / "t")
        df = spark.range(20000).select(
            F.col("id"),
            (F.col("id") * 7919 % 1000).alias("a"),
            (F.col("id") * 104729 % 1000).alias("b"),
        )
        # fragment: 40 tiny files
        df.repartition(40).write.parquet(out)
        assert len(glob.glob(out + "/*.parquet")) == 40
        res = optimize_table(
            spark, out, zorder_cols=["a", "b"], target_file_bytes=40 << 10
        )
        files = glob.glob(out + "/*.parquet")
        assert res["files_after"] == len(files) < 40
        # content identical
        back = spark.read.parquet(out)
        assert back.count() == 20000
        assert back.agg(F.sum("id")).first()[0] == sum(range(20000))
        # z-order clustering: per-file min/max ranges on BOTH columns
        # must be tighter than the full [0, 1000) domain on average
        spans_a, spans_b = [], []
        for f in files:
            md = pq.read_metadata(f)
            lo_a = min(md.row_group(i).column(1).statistics.min
                       for i in range(md.num_row_groups))
            hi_a = max(md.row_group(i).column(1).statistics.max
                       for i in range(md.num_row_groups))
            lo_b = min(md.row_group(i).column(2).statistics.min
                       for i in range(md.num_row_groups))
            hi_b = max(md.row_group(i).column(2).statistics.max
                       for i in range(md.num_row_groups))
            spans_a.append(hi_a - lo_a)
            spans_b.append(hi_b - lo_b)
        assert sum(spans_a) / len(spans_a) < 900
        assert sum(spans_b) / len(spans_b) < 900

    def test_optimize_without_zorder_is_compaction(self, spark, tmp_path):
        import glob

        from data_engineering_hs_spark.operators.scale import optimize_table

        out = str(tmp_path / "t2")
        spark.range(5000).repartition(25).write.parquet(out)
        res = optimize_table(spark, out)
        assert res["files_before"] == 25
        assert res["files_after"] < 25
        assert spark.read.parquet(out).count() == 5000


class TestScaleGuards:
    def test_salted_join_rejects_outer(self, spark):
        import pytest as _pytest

        from data_engineering_hs_spark.operators.scale import salted_join

        f = spark.createDataFrame([(1, "x")], "k long, v string")
        d = spark.createDataFrame([(1, "d")], "k long, w string")
        with _pytest.raises(ValueError, match="inner/left only"):
            salted_join(f, d, "k", how="full")
        with _pytest.raises(ValueError, match="inner/left only"):
            salted_join(f, d, "k", how="right")

    def test_zorder_write_rejects_string_columns(self, spark, tmp_path):
        import pytest as _pytest

        from data_engineering_hs_spark.operators.scale import zorder_write

        df = spark.createDataFrame(
            [("de", 1.0)], "country string, amount double"
        )
        with _pytest.raises(TypeError, match="non-numeric"):
            zorder_write(df, str(tmp_path / "z"), ["country", "amount"])

    def test_optimize_table_recovers_from_leftover_old_dir(
        self, spark, tmp_path
    ):
        import os

        from data_engineering_hs_spark.operators.scale import optimize_table

        path = str(tmp_path / "t")
        spark.range(100).selectExpr(
            "id", "cast(id % 7 as double) as a", "cast(id % 3 as double) as b"
        ).write.parquet(path)
        # leftover from a crash after the second rename
        os.makedirs(path + ".__old")
        with open(path + ".__old/junk", "w") as f:
            f.write("x")
        stats = optimize_table(
            spark, path, zorder_cols=["a", "b"], target_file_bytes=1 << 20
        )
        assert stats["files_after"] >= 1
        assert not os.path.exists(path + ".__old")
        assert spark.read.parquet(path).count() == 100
