"""Range (interval) join — points matched to containing intervals.

Spark plans a plain `p.ts BETWEEN i.start AND i.end` join as a
broadcast-nested-loop (or worse, a cartesian) — O(points×intervals)
compares. The scale path is bucketization:

- each interval explodes into the fixed-width buckets it overlaps
  (intervals are usually short relative to the bucket width, so the
  expansion factor is small and bounded);
- each point maps to exactly ONE bucket;
- the join becomes an equi-join on (key, bucket) — hash-partitioned,
  AQE-managed, skew-splittable — with the exact bounds check applied
  as a post-join filter.

This is the standard interval-join strategy (Flink's interval join
and warehouse range-join optimizations use the same shape). Pick
`bucket_width` ≈ the typical interval length: too small explodes
intervals into many buckets, too large puts many points+intervals in
one bucket and the post-filter does the work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, width: int) -> Column:
    return F.floor(col.cast("double") / width).cast("long")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    on: str | None = None,
    bucket_width: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row containing it
    (start <= point <= end, inclusive), optionally also matching an
    equi-key `on`. Numeric or epoch-seconds columns; cast timestamps
    to epoch first (`F.unix_timestamp`).

    how='inner' drops unmatched points; how='left' keeps them with
    null interval columns.
    """
    if bucket_width < 1:
        # 0 dies deep in the plan with an uninformative ANSI
        # DIVIDE_BY_ZERO from the bucketization; negative widths flip
        # sequence() into a reversed-bounds runtime error — same guard
        # contract as timeseries.resample's bucket_seconds
        raise ValueError(
            f"bucket_width must be >= 1, got {bucket_width}"
        )
    span = F.sequence(
        _bucket(F.col(start_col), bucket_width),
        _bucket(F.col(end_col), bucket_width),
    )
    iv = intervals.withColumn("__bucket", F.explode(span))
    pt = points.withColumn("__bucket", _bucket(F.col(point_col), bucket_width))
    keys = ["__bucket"] + ([on] if on else [])
    bounds = (F.col(point_col) >= F.col(start_col)) & (
        F.col(point_col) <= F.col(end_col)
    )
    if how == "inner":
        return pt.join(iv, keys).filter(bounds).drop("__bucket")
    if how == "left":
        matched = pt.join(iv, keys).filter(bounds).drop("__bucket")
        interval_cols = [c for c in iv.columns if c not in set(pt.columns)]
        # null-safe anti-join: a matched point row carrying a NULL in
        # any column would never equal itself under `=`, so it would
        # ALSO be classified unmatched and emitted twice
        p_alias = pt.drop("__bucket").alias("__p")
        m_keys = matched.select(*points.columns).distinct().alias("__m")
        cond = None
        for c in points.columns:
            e = F.col(f"__p.`{c}`").eqNullSafe(F.col(f"__m.`{c}`"))
            cond = e if cond is None else (cond & e)
        unmatched = p_alias.join(m_keys, cond, "left_anti").select(
            *points.columns
        )
        for c in interval_cols:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(iv.schema[c].dataType))
        return matched.unionByName(unmatched)
    raise ValueError(f"unsupported how={how!r} (inner|left)")
