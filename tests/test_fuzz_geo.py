"""Fuzz-parity lens, batch 8b (r16 verdict item 6): the grid spatial
join and the tile-pyramid cell math vs naive mirrors.

operators/geo.py had pinned tests but no hypothesis third opinion.
Two parity triangles:

1. radius_join (3×3-neighborhood grid equi-join) vs
   radius_join_naive (the distance-condition nested-loop plan) vs a
   pure-Python mirror — the exact pair SET must match through all
   three. The strategy is biased to the shapes that break grid joins:
   coordinates EXACTLY on cell boundaries (multiples of cell_deg),
   negative coordinates straddling zero (floor-division semantics),
   pairs at EXACTLY the radius (inclusive boundary), and cell_deg >
   radius_deg (wider cells must only ADD shared-cell candidates,
   never lose matches).

2. g_grid_rollup's quadtree cell expression vs a pure-Python integer
   mirror over the full synthetic coordinate domain — the rollup is
   DuckDB-oracled end-to-end, but the oracle is the same FORMULA; the
   third opinion here is an independent reimplementation from the
   docstring's definition (cell = (lat_q·2^z div 144)·2^z +
   (lon_q·2^z div 288)).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_hs_spark.operators.geo import radius_join
from tests.naive_mirrors import radius_join_naive

FUZZ = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

CELL = 1.0  # degree; radius below is <= CELL
# boundary-heavy coordinate alphabet: exact cell edges (multiples of
# CELL, including negative), near-edges, and plain interior points
coord = st.sampled_from(
    [0.0, 1.0, -1.0, 2.0, -2.0, 0.5, -0.5, 1.5, -1.5, 0.999, 1.001,
     -0.001, 3.25, -2.75]
)
pts = st.lists(st.tuples(coord, coord), min_size=1, max_size=10)


def _mirror_pairs(points, centers, radius):
    out = set()
    r2 = radius * radius
    for pid, (plat, plon) in enumerate(points):
        for cid, (clat, clon) in enumerate(centers):
            d2 = (plat - clat) ** 2 + (plon - clon) ** 2
            if d2 <= r2:  # inclusive boundary
                out.add((pid, cid))
    return out


def _frames(spark, points, centers):
    p = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(points)],
        "pid long, lat double, lon double",
    )
    c = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(centers)],
        "cid long, c_lat double, c_lon double",
    )
    return p, c


@given(points=pts, centers=pts, radius=st.sampled_from([0.5, 1.0]))
@FUZZ
def test_fuzz_grid_equals_naive_equals_mirror(
    spark, points, centers, radius
):
    p, c = _frames(spark, points, centers)
    grid = {
        (r["pid"], r["cid"])
        for r in radius_join(p, c, radius, cell_deg=CELL).collect()
    }
    naive = {
        (r["pid"], r["cid"])
        for r in radius_join_naive(p, c, radius).collect()
    }
    mirror = _mirror_pairs(points, centers, radius)
    assert grid == naive == mirror


@given(points=pts, centers=pts)
@FUZZ
def test_fuzz_wider_cells_change_nothing(spark, points, centers):
    # cell_deg > radius: more candidates share a cell, the post-join
    # distance filter must keep the pair set identical
    p, c = _frames(spark, points, centers)
    tight = {
        (r["pid"], r["cid"])
        for r in radius_join(p, c, 0.5, cell_deg=0.5).collect()
    }
    wide = {
        (r["pid"], r["cid"])
        for r in radius_join(p, c, 0.5, cell_deg=3.0).collect()
    }
    assert tight == wide


def test_exact_radius_boundary_is_inclusive(spark):
    p, c = _frames(spark, [(0.0, 0.0)], [(1.0, 0.0)])
    got = radius_join(p, c, 1.0).collect()
    assert [(r["pid"], r["cid"]) for r in got] == [(0, 0)]


def test_nan_coordinates_drop_from_both_plans(spark):
    # floor(NaN/c) casts to NULL cell → equi-join drops; the naive
    # plan's NaN distance fails `<=` — both plans agree: no pair
    nan = float("nan")
    p, c = _frames(spark, [(nan, 0.0), (0.0, 0.0)], [(0.0, 0.1)])
    grid = {(r["pid"], r["cid"]) for r in radius_join(p, c, 1.0).collect()}
    naive = {
        (r["pid"], r["cid"])
        for r in radius_join_naive(p, c, 1.0).collect()
    }
    assert grid == naive == {(1, 0)}


# --- tile-pyramid cell math vs an independent integer mirror -------


def _mirror_cell(lat_q: int, lon_q: int, zoom: int) -> int:
    return ((lat_q * (1 << zoom)) // 144) * (1 << zoom) + (
        (lon_q * (1 << zoom)) // 288
    )


def test_tile_pyramid_cell_matches_integer_mirror_full_domain(spark):
    # the ENTIRE synthetic coordinate domain (144×288 quarter-degree
    # cells) × all three zoom levels — exhaustive, not sampled: the
    # domain is small enough (124k rows) that fuzzing would be a
    # weaker statement than enumeration
    df = (
        spark.range(144 * 288)
        .select(
            (F.col("id") / 288).cast("long").alias("lat_q"),
            F.pmod(F.col("id"), F.lit(288)).cast("long").alias("lon_q"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2), F.lit(4), F.lit(6))).alias("zoom"),
        )
    )
    cell = F.expr(
        "CAST(((lat_q * shiftleft(1, zoom)) div 144) * shiftleft(1, zoom)"
        " + ((lon_q * shiftleft(1, zoom)) div 288) AS BIGINT)"
    )
    rows = df.select("lat_q", "lon_q", "zoom", cell.alias("cell")).collect()
    for r in rows:
        assert r["cell"] == _mirror_cell(r["lat_q"], r["lon_q"], r["zoom"]), (
            r["lat_q"], r["lon_q"], r["zoom"],
        )
    # and the cell id is a BIJECTION within each zoom level's grid —
    # two distinct (lat,lon) quadrants at the same zoom never share a
    # cell id beyond the intended quadtree coarsening
    from collections import defaultdict

    per_zoom = defaultdict(set)
    for r in rows:
        per_zoom[r["zoom"]].add(r["cell"])
    for zoom, cells in per_zoom.items():
        assert len(cells) == (1 << zoom) * (1 << zoom), zoom
