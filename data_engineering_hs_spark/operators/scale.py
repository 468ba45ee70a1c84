"""Scale-path layout: bucketed tables and Morton (z-order) values.

The reference hand-optimizes joins only via broadcast (SURVEY §4);
at 100 TB the other levers are physical layout:

- **Bucketed tables** (`write_bucketed`): persist both join sides
  pre-hash-partitioned and sorted on the key. A later equi-join reads
  bucket-aligned splits and sort-merges with NO Exchange on either
  side — the one-time shuffle at write amortizes across every
  downstream join/agg on that key (ClickHouse MergeTree order_by
  analog, fct_orders.sql:13-15).
- **Z-order values** (`zvalue`, `scale_to_bits`): Morton-interleave
  min-max-scaled numeric columns into one long whose sort order keeps
  multi-dimensional locality (the registry's `o_zorder_values`).

Skew on a hot join key is left to AQE's skew-join split, on by
default in this engine's session factory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+sorted) managed table. Joins/aggs on
    bucket_cols between tables with the same bucketing skip their
    Exchange (verified in tests by plan inspection)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name, format="parquet")


def zvalue(cols: Sequence, bits: int = 12):
    """Morton z-value of integer columns already scaled to [0, 2^bits).

    Interleaves the bits of up to ~4 columns (bit i of column j lands
    at position i*ncols + j) so one long column encodes
    multi-dimensional locality. Pure shift/and/or Column algebra —
    whole-stage codegen, no UDF. bits*ncols must stay < 63.
    """
    ncols = len(cols)
    if bits * ncols >= 63:
        raise ValueError("bits * ncols must stay below 63 (long zvalue)")
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        c = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    return z


def scale_to_bits(c, lo, hi, bits: int = 12):
    """Min-max scale a numeric column into [0, 2^bits) integers.

    lo/hi are Columns (typically from a broadcast 1-row stats frame)
    so the scaling needs NO driver action and re-derives per run.
    Constant columns (hi == lo) map to 0.
    """
    c = F.col(c) if isinstance(c, str) else c
    span = hi - lo
    maxv = (1 << bits) - 1
    scaled = F.floor((c - lo) / span * maxv)
    return (
        F.when(span <= 0, F.lit(0))
        .otherwise(F.least(F.greatest(scaled, F.lit(0)), F.lit(maxv)))
        .cast("long")
    )
