"""Naive parity baselines and test fixtures that stay out of the package.

Each join mirror states its join condition directly, so Spark plans it
as a nested-loop join: correct at test scale, quadratic at large. Tests
compare the scale-path operators in `operators/range_join.py` and
`operators/geo.py` against these. `make_flaky_transport` is a canned
transport for `sources/rest.py`.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_hs_spark.operators.geo import planar_sq_deg
from data_engineering_hs_spark.sources.rest import Transport


def range_join_naive(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    on: str | None = None,
) -> DataFrame:
    """BETWEEN-condition join — the parity baseline (nested-loop plan)."""
    bounds = (F.col(point_col) >= F.col(start_col)) & (
        F.col(point_col) <= F.col(end_col)
    )
    if on:
        joined = points.join(
            intervals.withColumnRenamed(on, f"__r_{on}"),
            (points[on] == F.col(f"__r_{on}")) & bounds,
        )
        return joined.drop(f"__r_{on}")
    return points.join(intervals, bounds)


def radius_join_naive(
    points: DataFrame,
    centers: DataFrame,
    radius_deg: float,
    point_lat: str = "lat",
    point_lon: str = "lon",
    center_lat: str = "c_lat",
    center_lon: str = "c_lon",
) -> DataFrame:
    """Distance-condition join — parity baseline (nested-loop plan)."""
    within = planar_sq_deg(
        F.col(point_lat), F.col(point_lon), F.col(center_lat), F.col(center_lon)
    ) <= F.lit(radius_deg) * F.lit(radius_deg)
    return points.join(centers, within)


def make_flaky_transport(
    responses: dict[int, dict],
    fail_plan: dict[int, list[tuple[int, dict]]] | None = None,
) -> Transport:
    """Canned JSON per id, with an optional per-id plan of
    (status, headers) failures to emit before succeeding — replays the
    server's 429/5xx behavior (orders_server main.py:150,159-163)
    deterministically."""
    state: dict[int, int] = {}

    def transport(url: str) -> tuple[int, dict, str]:
        _id = int(url.rstrip("/").rsplit("/", 1)[-1])
        plan = (fail_plan or {}).get(_id, [])
        k = state.get(_id, 0)
        if k < len(plan):
            state[_id] = k + 1
            status, headers = plan[k]
            return status, headers, ""
        if _id in responses:
            return 200, {}, json.dumps(responses[_id])
        return 404, {}, ""

    return transport
