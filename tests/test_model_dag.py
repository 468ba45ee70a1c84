"""Model-DAG runner tests over the magic_shop fixture (FIXTURES.md §B6,
SURVEY.md §3.2)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from data_engineering_hs_spark.plans.magic_shop import build_runner
from data_engineering_hs_spark.quality.assertions import AssertionError_

NOW = "timestamp'2025-06-15 00:00:00'"  # pinned 'now' for incremental window


def _raw(spark, orders_extra=(), payments_extra=()):
    customers = spark.createDataFrame(
        [
            ("1", "harry", "POTTER", "Gryffindor", "2024-01-01"),
            ("2", "luna", "lovegood", None, "2024-02-01"),
        ],
        ["customer_id", "first_name", "last_name", "house", "signup_date"],
    )
    orders = spark.createDataFrame(
        [
            # old order (outside any 30-day window from NOW)
            ("10", "1", "2025-01-05 10:00:00", "wand", "Fulfilled", "100.00"),
            # recent orders
            ("11", "1", "2025-06-01 09:00:00", "robe", "pending", "55.50"),
            ("12", "2", "2025-06-10 12:00:00", "potion", "FULFILLED", "20.00"),
            *orders_extra,
        ],
        ["order_id", "customer_id", "order_ts", "item", "status", "amount_galleons"],
    )
    payments = spark.createDataFrame(
        [
            ("100", "10", "GOLD", "100.00", "2025-01-06 00:00:00"),
            ("101", "11", "gold", "30.00", "2025-06-02 00:00:00"),
            # order 12 unpaid → exercises ifNull/outstanding
            *payments_extra,
        ],
        ["payment_id", "order_id", "method", "paid_galleons", "paid_at"],
    )
    return {"customers": customers, "orders": orders, "payments": payments}


class TestFullRun:
    def test_staging_casts_and_marts(self, spark):
        runner = build_runner(spark, _raw(spark), now_expr=NOW)
        built = runner.run()
        stg_c = {r["customer_id"]: r for r in built["stg_customers"].collect()}
        assert stg_c[1]["first_name"] == "Harry"  # initcap
        assert stg_c[2]["house"] == "Unknown"  # ifNull
        dim = {r["customer_id"]: r["full_name"] for r in built["dim_customers"].collect()}
        assert dim[2] == "Luna Lovegood"
        fct = {r["order_id"]: r for r in built["fct_orders"].collect()}
        assert fct[10]["outstanding_galleons"] == Decimal("0.00")
        assert fct[11]["outstanding_galleons"] == Decimal("25.50")
        assert fct[12]["paid_galleons"] == Decimal("0.00")  # unpaid, ifNull
        assert fct[12]["outstanding_galleons"] == Decimal("20.00")
        assert fct[11]["status"] == "pending"  # lower()

    def test_accepted_values_check_fails_on_bad_status(self, spark):
        raw = _raw(spark, orders_extra=[
            ("13", "1", "2025-06-12 00:00:00", "hat", "SHIPPED", "5.00")
        ])
        runner = build_runner(spark, raw, now_expr=NOW)
        with pytest.raises(AssertionError_, match="accepted_values"):
            runner.run()

    def test_unique_check_fails_on_dup_key(self, spark):
        raw = _raw(spark, orders_extra=[
            ("11", "1", "2025-06-01 09:00:00", "robe", "pending", "55.50")
        ])
        runner = build_runner(spark, raw, now_expr=NOW)
        with pytest.raises(AssertionError_, match="unique"):
            runner.run()


class TestIncremental:
    def test_delete_insert_within_window(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        # Initial full build.
        runner = build_runner(spark, _raw(spark), warehouse_dir=wh, now_expr=NOW)
        runner.run()
        # Second run: order 11 amount changed (recent → inside window);
        # order 10 changed too, but it's OUTSIDE the 30-day window, so
        # the incremental run must NOT pick it up.
        raw2 = _raw(spark)
        raw2["orders"] = spark.createDataFrame(
            [
                ("10", "1", "2025-01-05 10:00:00", "wand", "Fulfilled", "999.00"),
                ("11", "1", "2025-06-01 09:00:00", "robe", "pending", "60.00"),
                ("12", "2", "2025-06-10 12:00:00", "potion", "FULFILLED", "20.00"),
            ],
            ["order_id", "customer_id", "order_ts", "item", "status", "amount_galleons"],
        )
        runner2 = build_runner(spark, raw2, warehouse_dir=wh, now_expr=NOW)
        runner2.run()
        fct = {
            r["order_id"]: r
            for r in spark.read.parquet(f"{wh}/fct_orders").collect()
        }
        assert len(fct) == 3  # delete+insert, no duplicates
        assert fct[11]["amount_galleons"] == Decimal("60.00")  # refreshed
        assert fct[10]["amount_galleons"] == Decimal("100.00")  # untouched (old window)

    def test_key_moving_partitions_leaves_no_duplicate(self, spark, tmp_path):
        # A refreshed order whose order_ts month CHANGES must vanish
        # from its old month partition (delete+insert by key, not just
        # insert into the new partition).
        wh = str(tmp_path / "wh_move")
        runner = build_runner(spark, _raw(spark), warehouse_dir=wh, now_expr=NOW)
        runner.run()
        raw2 = _raw(spark)
        raw2["orders"] = spark.createDataFrame(
            [
                ("10", "1", "2025-01-05 10:00:00", "wand", "Fulfilled", "100.00"),
                # order 11 moved from June to May (still inside the
                # 30-day window from NOW=June 15)
                ("11", "1", "2025-05-20 09:00:00", "robe", "pending", "55.50"),
                ("12", "2", "2025-06-10 12:00:00", "potion", "FULFILLED", "20.00"),
            ],
            ["order_id", "customer_id", "order_ts", "item", "status", "amount_galleons"],
        )
        runner2 = build_runner(spark, raw2, warehouse_dir=wh, now_expr=NOW)
        runner2.run()
        fct = spark.read.parquet(f"{wh}/fct_orders")
        rows = fct.filter(F.col("order_id") == 11).collect()
        assert len(rows) == 1  # no ghost left in the 202506 partition
        assert rows[0]["order_month"] == 202505
        assert fct.count() == 3

    def test_rerun_is_idempotent(self, spark, tmp_path):
        wh = str(tmp_path / "wh2")
        runner = build_runner(spark, _raw(spark), warehouse_dir=wh, now_expr=NOW)
        runner.run()
        runner2 = build_runner(spark, _raw(spark), warehouse_dir=wh, now_expr=NOW)
        runner2.run()
        df = spark.read.parquet(f"{wh}/fct_orders")
        assert df.count() == 3
        assert df.groupBy("order_id").count().filter(F.col("count") > 1).count() == 0


class TestDriftAndDuplicateGates:
    def test_duplicate_model_name_rejected(self, spark):
        # dbt errors on duplicate model names; silently replacing the
        # first definition (and dropping its checks) is worse
        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        r = ModelRunner(spark, {})
        r.model("m")(lambda ctx: spark.range(1))
        with pytest.raises(ValueError, match="already registered"):
            r.model("m")(lambda ctx: spark.range(2))

    def test_incremental_refuses_schema_drift(self, spark, tmp_path):
        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        wh = str(tmp_path / "wh")
        df1 = spark.createDataFrame([(1, 0, "a")], "k long, p int, v string")
        r = ModelRunner(spark, {}, warehouse_dir=wh)
        r.model(
            "inc", materialization="incremental", unique_key="k", partition_by="p"
        )(lambda ctx: df1)
        r.run()
        # second run with a drifted frame (v renamed/new col) must fail
        df2 = spark.createDataFrame([(2, 0, 5.0)], "k long, p int, v double")
        r2 = ModelRunner(spark, {}, warehouse_dir=wh)
        r2.model(
            "inc", materialization="incremental", unique_key="k", partition_by="p"
        )(lambda ctx: df2)
        with pytest.raises(ValueError, match="schema drift"):
            r2.run()


class TestIncrementalEmptiedPartition:
    def test_emptied_partition_directory_is_removed(self, spark, tmp_path):
        import os

        # order 13 is the ONLY row in its May partition; the second
        # run moves it to June. Dynamic overwrite alone cannot rewrite
        # a partition with zero output rows — the runner must delete
        # the emptied directory or a ghost copy of order 13 survives.
        wh = str(tmp_path / "wh_ghost")
        raw1 = _raw(spark, orders_extra=[
            ("13", "2", "2025-05-20 09:00:00", "cloak", "pending", "10.00"),
        ])
        build_runner(spark, raw1, warehouse_dir=wh, now_expr=NOW).run()
        assert os.path.exists(f"{wh}/fct_orders/order_month=202505")
        raw2 = _raw(spark, orders_extra=[
            ("13", "2", "2025-06-05 09:00:00", "cloak", "pending", "10.00"),
        ])
        build_runner(spark, raw2, warehouse_dir=wh, now_expr=NOW).run()
        fct = spark.read.parquet(f"{wh}/fct_orders")
        rows = fct.filter(F.col("order_id") == 13).collect()
        assert len(rows) == 1
        assert rows[0]["order_month"] == 202506
        assert fct.count() == 4
        assert not os.path.exists(f"{wh}/fct_orders/order_month=202505")


class TestIncrementalEscapedAndNullPartitions:
    """ADVICE r8: the emptied-partition cleanup hand-built
    f"{col}={v}" paths, missing percent-escaped values and NULL
    (__HIVE_DEFAULT_PARTITION__); and the partition-value joins were
    plain equi-joins, which never match NULL — a NULL partition was
    both un-keepable (untouched rows lost) and always "emptied"
    (freshly rewritten data deleted). Now shared with
    sources.parquet.remove_partition_dirs and null-safe."""

    def _runner(self, spark, wh, frame_box):
        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        r = ModelRunner(spark, sources={}, warehouse_dir=wh)

        @r.model("inc", materialization="incremental",
                 unique_key="k", partition_by="p")
        def inc(ctx):
            return frame_box["df"]

        return r

    def test_escaped_partition_ghost_is_removed(self, spark, tmp_path):
        import os
        from urllib.parse import quote

        wh = str(tmp_path / "wh_esc")
        box = {"df": spark.createDataFrame(
            [(1, "2024:05"), (2, "2024:05"), (5, "b")], "k int, p string"
        )}
        self._runner(spark, wh, box).run()
        esc = f"{wh}/inc/p={quote('2024:05', safe='')}"
        assert os.path.exists(esc), os.listdir(f"{wh}/inc")
        # key 1 moves out; partition still holds key 2 -> dir stays
        box["df"] = spark.createDataFrame([(1, "b")], "k int, p string")
        self._runner(spark, wh, box).run()
        assert os.path.exists(esc)
        # key 2 moves out too -> escaped dir must actually be deleted
        box["df"] = spark.createDataFrame([(2, "b")], "k int, p string")
        self._runner(spark, wh, box).run()
        assert not os.path.exists(esc)
        got = spark.read.parquet(f"{wh}/inc")
        assert got.filter(F.col("p") == "2024:05").count() == 0
        assert got.count() == 3

    def test_null_partition_untouched_rows_survive_refresh(
        self, spark, tmp_path
    ):
        import os

        wh = str(tmp_path / "wh_null")
        box = {"df": spark.createDataFrame(
            [(3, None), (4, None), (5, "b")], "k int, p string"
        )}
        self._runner(spark, wh, box).run()
        null_dir = f"{wh}/inc/p=__HIVE_DEFAULT_PARTITION__"
        assert os.path.exists(null_dir)
        # refresh key 3 IN the null partition: key 4's untouched row
        # must survive the rewrite, and the repopulated null dir must
        # NOT be swept as "emptied"
        box["df"] = spark.createDataFrame([(3, None)], "k int, p string")
        self._runner(spark, wh, box).run()
        got = spark.read.parquet(f"{wh}/inc")
        assert got.filter(F.col("p").isNull()).count() == 2
        assert os.path.exists(null_dir)
        # move BOTH null-partition keys out -> null dir removed
        box["df"] = spark.createDataFrame(
            [(3, "b"), (4, "b")], "k int, p string"
        )
        self._runner(spark, wh, box).run()
        assert not os.path.exists(null_dir)
        got = spark.read.parquet(f"{wh}/inc")
        assert got.filter(F.col("p").isNull()).count() == 0
        assert sorted(r.k for r in got.collect()) == [3, 4, 5]


class TestWarehouseGuard:
    def test_remote_warehouse_dir_rejected(self, spark):
        # os.path target probes on a remote URI report every target as
        # absent — incremental models would silently rebuild from
        # scratch each run (first-run overwrite with just the
        # increment). The constructor must refuse loudly.
        import pytest

        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        for bad in ("s3a://bucket/wh", "hdfs://nn/wh", "file:///tmp/wh"):
            with pytest.raises(ValueError, match="driver-local"):
                ModelRunner(spark, {}, warehouse_dir=bad)
        # plain local paths (and no warehouse at all) stay fine
        ModelRunner(spark, {}, warehouse_dir="/tmp/ok")
        ModelRunner(spark, {})


class TestRunBoundaries:
    """run(select) validates plain names before it builds anything,
    and ref() recursion refuses a cycle."""

    def test_unknown_model_raises_before_any_job(self, spark):
        from test_compile_once import _jobs_started

        runner = build_runner(spark, _raw(spark), now_expr=NOW)

        def attempt():
            # fct_orders' checks would start jobs if it built first
            with pytest.raises(KeyError, match="nope"):
                runner.run(["fct_orders", "nope"])

        _, jobs = _jobs_started(spark, attempt, "model_dag_unknown_name")
        assert jobs == 0

    def test_plus_selector_is_refused(self, spark):
        from test_compile_once import _jobs_started

        runner = build_runner(spark, _raw(spark), now_expr=NOW)

        def attempt():
            with pytest.raises(KeyError, match=r"\+fct_orders"):
                runner.run("+fct_orders")

        _, jobs = _jobs_started(spark, attempt, "model_dag_plus_selector")
        assert jobs == 0
        assert set(runner.run("stg_payments")) == {"stg_payments"}

    def test_ref_cycle_raises(self, spark):
        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        r = ModelRunner(spark, {})
        r.model("a")(lambda ctx: ctx.ref("b"))
        r.model("b")(lambda ctx: ctx.ref("a"))
        with pytest.raises(ValueError, match="ref cycle at a"):
            r.run()


class TestRegistrationBoundaries:
    """model() refuses what it cannot materialize at registration,
    and the materialization steps check their inputs with explicit
    raises that ``python -O`` keeps."""

    def test_unknown_materialization_is_refused(self, spark, tmp_path):
        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        r = ModelRunner(spark, {}, warehouse_dir=str(tmp_path))
        with pytest.raises(ValueError, match="view, table, incremental.*'tabel'"):
            r.model("t", materialization="tabel")
        assert r.models == {}
        assert list(tmp_path.iterdir()) == []

    @pytest.mark.parametrize(
        "key,part", [(None, "p"), ("k", None), (None, None), ("", "p")]
    )
    def test_incremental_needs_key_and_partition_at_registration(
        self, spark, key, part
    ):
        from data_engineering_hs_spark.plans.model_dag import ModelRunner

        r = ModelRunner(spark, {})
        with pytest.raises(ValueError, match="needs unique_key and partition_by"):
            r.model(
                "inc", materialization="incremental",
                unique_key=key, partition_by=part,
            )
        assert r.models == {}

    def test_materialization_steps_raise_not_assert(self, spark, tmp_path):
        from data_engineering_hs_spark.plans.model_dag import Model, ModelRunner

        def fn(ctx):
            return ctx.spark.range(3).withColumn("p", F.lit(1))

        r = ModelRunner(spark, {}, warehouse_dir=str(tmp_path))
        # a Model built by hand skips model()'s registration check
        r.models["inc"] = Model("inc", fn, "incremental")
        with pytest.raises(ValueError, match="needs unique_key and partition_by"):
            r.run()
        assert list(tmp_path.iterdir()) == []
        with pytest.raises(ValueError, match="needs a warehouse_dir"):
            ModelRunner(spark, {})._target_path(Model("t", fn, "table"))
