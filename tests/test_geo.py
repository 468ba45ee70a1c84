"""Spatial radius join: bucketized plan ≡ naive distance join, metric
sanity, and guard rails (operators/geo.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_engineering_hs_spark.operators.geo import (
    planar_sq_deg,
    radius_join,
)
from tests.naive_mirrors import radius_join_naive


def _frames(spark, n_points=500, n_centers=40, seed=7):
    rng = random.Random(seed)
    pts = [
        (i, rng.uniform(-10, 10), rng.uniform(-20, 20)) for i in range(n_points)
    ]
    ctr = [
        (j, rng.uniform(-10, 10), rng.uniform(-20, 20)) for j in range(n_centers)
    ]
    points = spark.createDataFrame(pts, "pid long, lat double, lon double")
    centers = spark.createDataFrame(ctr, "cid long, c_lat double, c_lon double")
    return points, centers


def _pairs(df):
    return sorted((r.pid, r.cid) for r in df.select("pid", "cid").collect())


class TestRadiusJoin:
    def test_matches_naive(self, spark):
        points, centers = _frames(spark)
        fast = radius_join(points, centers, radius_deg=0.8)
        slow = radius_join_naive(points, centers, radius_deg=0.8)
        assert _pairs(fast) == _pairs(slow)
        assert len(_pairs(fast)) > 0

    def test_wider_cell_same_result(self, spark):
        points, centers = _frames(spark, seed=11)
        r1 = radius_join(points, centers, radius_deg=0.8)
        r2 = radius_join(points, centers, radius_deg=0.8, cell_deg=2.5)
        assert _pairs(r1) == _pairs(r2)

    def test_boundary_inclusive(self, spark):
        points = spark.createDataFrame(
            [(1, 0.0, 0.5)], "pid long, lat double, lon double"
        )
        centers = spark.createDataFrame(
            [(9, 0.0, 0.0)], "cid long, c_lat double, c_lon double"
        )
        # distance exactly == radius (0.5 is an exact binary double)
        assert _pairs(radius_join(points, centers, radius_deg=0.5)) == [(1, 9)]

    def test_cell_smaller_than_radius_rejected(self, spark):
        points, centers = _frames(spark, n_points=4, n_centers=2)
        with pytest.raises(ValueError, match="3x3 neighborhood"):
            radius_join(points, centers, radius_deg=1.0, cell_deg=0.5)

    def test_hot_cell_bounded(self, spark):
        # 5k identical points + 1 center in one cell: output is 5k rows
        # (points map 1:1 to cells — no n^2 point-side blowup).
        points = spark.createDataFrame(
            [(i, 1.0, 1.0) for i in range(5000)], "pid long, lat double, lon double"
        )
        centers = spark.createDataFrame(
            [(1, 1.1, 1.1)], "cid long, c_lat double, c_lon double"
        )
        assert radius_join(points, centers, radius_deg=0.5).count() == 5000

    def test_equi_join_plan_not_nested_loop(self, spark):
        points, centers = _frames(spark)
        plan = radius_join(points, centers, radius_deg=0.8)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestMetrics:

    def test_planar_sq_exact(self, spark):
        df = spark.range(1).select(
            planar_sq_deg(
                F.lit(0.25), F.lit(0.5), F.lit(0.0), F.lit(0.0)
            ).alias("d2")
        )
        assert df.collect()[0].d2 == 0.25 * 0.25 + 0.5 * 0.5
