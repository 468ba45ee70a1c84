"""Time-series resample / gap-fill / interpolation operators.

The hypertable-rollup family: regularize irregular event streams onto
a fixed grid, then fill the gaps. All pure window/join plans:

- resample: per-key time-bucket aggregate LEFT-JOINED onto a per-key
  dense spine (sequence+explode of each key's [min, max] bucket
  range) so silent periods appear as rows. The spine is generated
  from a per-key bounds AGGREGATE — one row per key exploding into
  its own range — so no global cross join materializes.
- interpolate_linear: gaps get v_prev + (v_next - v_prev) *
  (t - t_prev)/(t_next - t_prev); edges (before first / after last
  observation) take the nearest observation. Two window
  passes over the SAME (key × time) partitioning, so Catalyst reuses
  one exchange.

At 100 TB the spine explode is bounded by (keys × buckets-per-key),
i.e. the OUTPUT size — there is no way to emit a dense grid smaller
than itself; the operator never shuffles more than input + output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def resample(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    bucket_seconds: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """Aggregate onto a dense per-key grid of `bucket_seconds` buckets.

    Returns key_cols + `bucket_start` (epoch seconds) + one column per
    aggs entry (null on empty buckets — apply coalesce/fills after).
    Rows with a null `ts_col` cannot be placed on the grid and are
    excluded (their bucket is null, which no spine row equi-joins).
    """
    if bucket_seconds < 1:
        # 0 divides by zero into ±Infinity (→ ANSI overflow mid-job);
        # negative flips sequence() into a reversed-bounds runtime
        # error — both die deep in the plan with no hint of the cause
        raise ValueError(
            f"bucket_seconds must be >= 1, got {bucket_seconds}"
        )
    keys = list(key_cols)
    bucket = (
        F.floor(F.col(ts_col).cast("double") / bucket_seconds).cast("long")
        * bucket_seconds
    )
    facts = (
        df.withColumn("bucket_start", bucket)
        .groupBy(*keys, "bucket_start")
        .agg(*[c.alias(name) for name, c in aggs.items()])
    )
    spine = (
        facts.groupBy(*keys)
        .agg(F.min("bucket_start").alias("__lo"), F.max("bucket_start").alias("__hi"))
        .select(
            *keys,
            F.explode(
                F.sequence("__lo", "__hi", F.lit(bucket_seconds))
            ).alias("bucket_start"),
        )
    )
    return spine.join(facts, keys + ["bucket_start"], "left")


def interpolate_linear(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_cols: Sequence[str],
    out_col: str = "value_interp",
) -> DataFrame:
    """Linear interpolation of null values between observations per key.

    Gap rows get the line between the surrounding observations; rows
    before the first / after the last observation fall back to the
    nearest observation (flat extrapolation). Observed rows pass
    through untouched. `ts_col` must be numeric (epoch seconds /
    bucket index).

    DUPLICATE timestamps: when the surrounding observations share one
    timestamp (a null row sandwiched between same-instant readings —
    sensor feeds emit these), the interpolation slope is 0/0; the row
    takes a same-instant observation's value (the same flat fallback
    as extrapolation) instead of killing the job with an ANSI
    DIVIDE_BY_ZERO (fuzz-class find, probed and pinned). The window
    ordering tie-breaks (ts, value-is-null, value) so the choice is
    DETERMINISTIC across partitionings and shuffles — observations
    sort before null rows at the same instant, ties among same-instant
    observations break on value, so the fill is the LARGEST observed
    value at that instant. A bare orderBy(ts) left intra-tie order
    undefined: the null row could sort before its same-ts observation
    and fall into the 'before first observation' branch, flipping the
    filled value with the shuffle layout.
    """
    keys = list(key_cols)
    # Deterministic total order: observed rows precede null rows at
    # equal ts; equal-ts observations order by value.
    order = [F.col(ts_col), F.col(value_col).isNull(), F.col(value_col)]
    back = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col(value_col).isNotNull(), F.col(ts_col))
    prev_v = F.last(value_col, ignorenulls=True).over(back)
    prev_t = F.last(obs_ts, ignorenulls=True).over(back)
    next_v = F.first(value_col, ignorenulls=True).over(fwd)
    next_t = F.first(obs_ts, ignorenulls=True).over(fwd)
    t = F.col(ts_col).cast("double")
    interp = prev_v + (next_v - prev_v) * (t - prev_t.cast("double")) / (
        next_t.cast("double") - prev_t.cast("double")
    )
    filled = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(prev_v.isNull(), next_v)  # before first observation
        .when(next_v.isNull(), prev_v)  # after last observation
        # same-instant surrounding observations: slope is 0/0 — flat
        # fallback to the preceding value (see docstring)
        .when(next_t == prev_t, prev_v)
        .otherwise(interp)
    )
    return df.withColumn(out_col, filled)


def detect_gaps(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_gap_seconds: int,
) -> DataFrame:
    """Silence detection: intervals between consecutive observations of
    a key exceeding `min_gap_seconds` — sensor downtime / pipeline
    stall diagnosis. Emits one row per gap: key, gap_start (last seen),
    gap_end (next seen), gap_seconds.

    One window shuffle on the key; the lag and the epoch subtraction
    are codegen Column algebra. At 100 TB the shuffle carries
    (key, ts) only — project before calling.

    Accepts BOTH timestamp columns and the numeric epoch-seconds
    columns the rest of this module (resample/interpolate) works in:
    unix_timestamp() on a numeric column string-parses under ANSI and
    throws (or nulls every gap with ANSI off), so numerics subtract
    directly.
    """
    # NumericType covers the whole hierarchy — a hand-enumerated tuple
    # silently dropped smallint/tinyint into the unix_timestamp branch
    ts_type = df.schema[ts_col].dataType
    is_numeric = isinstance(ts_type, T.NumericType)

    def _epoch(c) -> Column:
        # Numeric epochs subtract losslessly: integrals WIDEN to long
        # first (Spark subtracts in the operand type, so a smallint
        # gap > ~9 hours would wrap silently — or throw under ANSI),
        # float widens to double (exact), and long/double/decimal
        # subtract natively. The pre-r9 cast("long") on EVERYTHING
        # truncated fractional seconds toward zero — and pre-epoch
        # negatives truncated UP — so sub-second gaps straddling
        # min_gap_seconds misclassified. NOTE the timestamp path is
        # still whole-second: unix_timestamp truncates fractional
        # seconds BY DESIGN, matching the DuckDB date_diff('second')
        # oracle — callers needing sub-second timestamp gaps should
        # pass unix_micros-derived doubles instead.
        if isinstance(ts_type, (T.ByteType, T.ShortType, T.IntegerType)):
            return F.col(c).cast("long")
        if isinstance(ts_type, T.FloatType):
            return F.col(c).cast("double")
        return F.col(c) if is_numeric else F.unix_timestamp(F.col(c))

    w = Window.partitionBy(key_col).orderBy(ts_col)
    return (
        df.select(key_col, ts_col)
        .withColumn("__prev", F.lag(ts_col).over(w))
        .withColumn("gap_seconds", _epoch(ts_col) - _epoch("__prev"))
        .filter(F.col("gap_seconds") >= min_gap_seconds)
        .select(
            key_col,
            F.col("__prev").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            "gap_seconds",
        )
    )
