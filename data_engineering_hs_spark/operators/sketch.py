"""Mergeable frequency sketches: count-min (Cormode & Muthukrishnan,
J. Algorithms 2005).

The companion to the HLL-distinct path (queries/agg_extra.py
a_rolling_distinct_hll): where HLL answers "how many distinct", a
count-min sketch answers "how often does key X occur" from a
fixed-size summary. The 100-TB shape is the same — scan the raw data
ONCE into a (depth × width)-cell table of counts, then answer point
queries (and merge sketches of different shards/days cell-wise) from
kilobytes. Never materializes a per-key table, so a key domain of
billions costs the same as thousands.

Plan shape: cms_build is one explode (×depth, a small constant) and
ONE hash shuffle on (depth, cell) — partial aggregation combines
map-side, so the shuffle carries ≤ depth·width rows per map task
whatever the input size. Estimates are a broadcast-sized probe join.
All hashing is xxhash64 Column algebra (hash seed = the depth index
hashed alongside the key) — codegen'd, no Python boundary.

Guarantees (the auditable contract): estimate ≥ true count ALWAYS
(collisions only add); estimate ≤ true + εN with ε ≈ e/width in
expectation per row of depth, and the min over `depth` independent
rows makes larger errors geometrically unlikely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cells(df: DataFrame, key_col: str, depth: int, width: int) -> DataFrame:
    """(k, d, cell): each key replicated into its `depth` cells."""
    return (
        df.select(F.col(key_col).alias("k"))
        .select(
            "k",
            F.explode(
                F.array(*[F.lit(d) for d in range(depth)])
            ).alias("d"),
        )
        .select(
            "k",
            "d",
            F.pmod(F.xxhash64("k", "d"), F.lit(width)).alias("cell"),
        )
    )


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 8192
) -> DataFrame:
    """Build the sketch: (d, cell, cnt) with depth·width rows at most.
    Sketches merge by unioning and re-summing cell-wise (same depth/
    width): counts are additive, so daily shard sketches roll up into
    weekly/monthly ones without rescanning."""
    return (
        _cells(df, key_col, depth, width)
        .groupBy("d", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Point-query estimates for `keys`: min over the key's `depth`
    cells (0 for never-seen keys). The probe frame is keys·depth rows
    — broadcast-sized for any reasonable query set."""
    probes = _cells(keys.select(key_col).distinct(), key_col, depth, width)
    return (
        probes.join(sketch, ["d", "cell"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
        .select(F.col("k").alias(key_col), "est")
    )
