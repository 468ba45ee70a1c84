"""Unit tests for resample / interpolate_linear."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_hs_spark.operators.timeseries import (
    interpolate_linear,
    resample,
)


class TestResample:
    def test_dense_grid_with_empty_buckets(self, spark):
        df = spark.createDataFrame(
            [("a", 0, 1.0), ("a", 25, 2.0), ("b", 10, 5.0)],
            ["k", "ts", "v"],
        )
        out = resample(df, "ts", ["k"], 10, {"n": F.count("*")}).collect()
        grid = {(r["k"], r["bucket_start"]): r["n"] for r in out}
        # a spans buckets 0,10,20 — bucket 10 is an empty gap row
        assert grid[("a", 0)] == 1 and grid[("a", 20)] == 1
        assert grid[("a", 10)] is None
        assert grid[("b", 10)] == 1
        assert len(grid) == 4  # b has a single bucket

    def test_nonpositive_bucket_rejected_and_null_ts_excluded(self, spark):
        # bucket_seconds <= 0 would die deep in the plan (div-by-zero
        # Infinity under ANSI / reversed sequence bounds) — reject up
        # front; null-ts rows can't be placed on the grid and drop
        import pytest as _pytest

        df = spark.createDataFrame(
            [("a", 0, 1.0), ("a", None, 9.0), ("a", 20, 2.0)],
            "k string, ts int, v double",
        )
        for bad in (0, -10):
            with _pytest.raises(ValueError, match="bucket_seconds"):
                resample(df, "ts", ["k"], bad, {"n": F.count("*")})
        out = resample(df, "ts", ["k"], 10, {"n": F.count("*")}).collect()
        assert {r["bucket_start"] for r in out} == {0, 10, 20}

    def test_interpolation_values(self, spark):
        df = spark.createDataFrame(
            [
                ("a", 0, 10.0),
                ("a", 10, None),
                ("a", 20, None),
                ("a", 30, 40.0),
                ("a", 40, None),   # after last obs → flat 40
                ("b", 0, None),    # before first obs → flat 7
                ("b", 10, 7.0),
            ],
            ["k", "ts", "v"],
        )
        out = {
            (r["k"], r["ts"]): r["value_interp"]
            for r in interpolate_linear(df, "ts", "v", ["k"]).collect()
        }
        assert out[("a", 0)] == 10.0 and out[("a", 30)] == 40.0
        assert out[("a", 10)] == 20.0 and out[("a", 20)] == 30.0
        assert out[("a", 40)] == 40.0
        assert out[("b", 0)] == 7.0

    def test_interpolate_reuses_one_exchange(self, spark):
        # both window passes partition on the same key → one shuffle
        df = spark.createDataFrame([("a", 0, 1.0)], ["k", "ts", "v"])
        plan = interpolate_linear(df, "ts", "v", ["k"])._jdf.queryExecution().executedPlan().toString()
        import re
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


class TestDetectGapsFractionalSeconds:
    def test_double_epochs_keep_subsecond_precision(self, spark):
        # gap = 3.5 s straddles min_gap_seconds=4 from below and
        # min_gap=3 from above; the old cast("long") truncated both
        # endpoints toward zero, fabricating a 4 s gap out of 3.5 s
        from data_engineering_hs_spark.operators.timeseries import detect_gaps

        df = spark.createDataFrame(
            [("s", 10.25), ("s", 13.75), ("s", 14.0)], "k string, ts double"
        )
        assert detect_gaps(df, "k", "ts", 4).count() == 0
        got = detect_gaps(df, "k", "ts", 3).collect()
        assert len(got) == 1 and got[0]["gap_seconds"] == 3.5

    def test_pre_epoch_negative_doubles(self, spark):
        # -10.6 -> -4.2 is a 6.4 s gap; long-truncation made it
        # (-4) - (-10) = 6, dropping it below a 6.2 s threshold
        from data_engineering_hs_spark.operators.timeseries import detect_gaps

        df = spark.createDataFrame(
            [("s", -10.6), ("s", -4.2)], "k string, ts double"
        )
        got = detect_gaps(df, "k", "ts", 6).collect()
        assert len(got) == 1
        assert abs(got[0]["gap_seconds"] - 6.4) < 1e-9

    def test_integer_epochs_stay_integral(self, spark):
        from data_engineering_hs_spark.operators.timeseries import detect_gaps

        df = spark.createDataFrame(
            [("s", 100), ("s", 200)], "k string, ts long"
        )
        got = detect_gaps(df, "k", "ts", 50).collect()
        assert got[0]["gap_seconds"] == 100
        assert isinstance(got[0]["gap_seconds"], int)

    def test_small_int_epochs_use_numeric_path(self, spark):
        # smallint/tinyint epochs previously fell into the
        # unix_timestamp branch (ANSI throw / all-NULL gaps)
        from data_engineering_hs_spark.operators.timeseries import detect_gaps

        df = spark.createDataFrame(
            [("s", 10), ("s", 110)], "k string, ts int"
        ).withColumn("ts", F.col("ts").cast("smallint"))
        got = detect_gaps(df, "k", "ts", 50).collect()
        assert len(got) == 1 and got[0]["gap_seconds"] == 100

    def test_smallint_gap_beyond_type_range_does_not_wrap(self, spark):
        # short - short subtracts in ShortType: a 60000 s gap wrapped
        # to -5536 (or threw under ANSI) before the long widening
        from data_engineering_hs_spark.operators.timeseries import detect_gaps

        df = spark.createDataFrame(
            [("s", -30000), ("s", 30000)], "k string, ts int"
        ).withColumn("ts", F.col("ts").cast("smallint"))
        got = detect_gaps(df, "k", "ts", 50).collect()
        assert len(got) == 1 and got[0]["gap_seconds"] == 60000


class TestInterpolateDuplicateTimestamps:
    def test_null_between_same_instant_observations_takes_largest(
        self, spark
    ):
        # a null sandwiched between two observations AT THE SAME ts
        # made the interpolation slope 0/0 — a job-killing ANSI
        # DIVIDE_BY_ZERO on data sensor feeds actually emit; the row
        # now takes a same-instant observation (flat fallback, same as
        # extrapolation), observed rows stay untouched. The window
        # tie-breaks (ts, is-null, value), so the fill is the LARGEST
        # same-instant observed value — deterministic across shuffles
        # (a bare orderBy(ts) let the null row sort before its same-ts
        # observation on some partitionings, flipping the fill to the
        # 'before first observation' branch).
        from data_engineering_hs_spark.operators.timeseries import (
            interpolate_linear,
        )

        df = spark.createDataFrame(
            [(1, 5.0, 1.0), (1, 5.0, None), (1, 5.0, 2.0)],
            "k int, ts double, v double",
        )
        got = {
            (r["v"], r["value_interp"])
            for r in interpolate_linear(df, "ts", "v", ["k"]).collect()
        }
        assert (None, 2.0) in got  # largest same-instant observation
        assert (1.0, 1.0) in got and (2.0, 2.0) in got
        # deterministic under a different physical layout
        for n in (1, 7):
            got_n = {
                (r["v"], r["value_interp"])
                for r in interpolate_linear(
                    df.repartition(n), "ts", "v", ["k"]
                ).collect()
            }
            assert got_n == got
        # distinct-ts interpolation is unchanged
        df2 = spark.createDataFrame(
            [(1, 0.0, 0.0), (1, 1.0, None), (1, 2.0, 4.0)],
            "k int, ts double, v double",
        )
        mid = [
            r["value_interp"]
            for r in interpolate_linear(df2, "ts", "v", ["k"]).collect()
            if r["v"] is None
        ]
        assert mid == [2.0]


class TestRangeJoinWidthGuard:
    def test_nonpositive_bucket_width_rejected(self, spark):
        # width 0 died deep in the plan with an uninformative ANSI
        # DIVIDE_BY_ZERO; negatives reversed sequence() bounds
        import pytest

        from data_engineering_hs_spark.operators.range_join import range_join

        p = spark.createDataFrame([(1, 5)], "k int, t int")
        i = spark.createDataFrame([(1, 0, 10)], "k int, lo int, hi int")
        for w in (0, -5):
            with pytest.raises(ValueError, match="bucket_width"):
                range_join(p, i, "t", "lo", "hi", on="k", bucket_width=w)
