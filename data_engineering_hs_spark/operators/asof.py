"""As-of (temporal) join — an operator Spark lacks natively.

For each left row, attach the most recent right row (per key) whose
timestamp is <= the left row's timestamp (a backward as-of join).

asof_join is a composition of built-ins: union-tag the two sides,
sort within key partitions, and carry the last-seen right row forward
with last(..., ignorenulls) over an unbounded-preceding window. ONE
shuffle on the key, no range-explosion join, no Python. This is the
classic "sort-merge as-of" expressed declaratively.

Tie semantics: right rows with ts equal to the left ts DO match
(inclusive, merge_asof's default). Ordering among equal timestamps is
broken by the caller's `ts_tiebreak` column for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _check_asof_output_names(
    left_cols: list[str], value_cols: list[str]
) -> None:
    """asof_join emits left columns plus asof_<value_col>. A left
    column already named asof_<value_col> (or a duplicated value_col)
    would produce duplicate output names that the window form silently
    shadows. Fail fast with the actual collision instead.
    """
    out = [f"asof_{c}" for c in value_cols]
    dups = sorted({c for c in out if out.count(c) > 1})
    if dups:
        raise ValueError(
            f"duplicate value_cols produce duplicate output column(s) {dups}"
        )
    clash = sorted(set(left_cols) & set(out))
    if clash:
        raise ValueError(
            f"left column(s) {clash} collide with as-of output name(s); "
            "rename them before joining"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    ts_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join via union + window carry-forward.

    Returns all left columns plus `value_cols` from the matched right
    row (null when no right row precedes). `on` is the equi-key;
    timestamps compared on their native type (caller aligns units).

    The matched right row is carried as ONE struct, not per-column:
    a per-column last(ignorenulls) would back-fill a genuinely-NULL
    right field from an OLDER right row, returning a frankenrow that
    never existed (merge_asof returns the whole matched row,
    NULL fields included). The struct itself is non-null for every
    right row, so ignorenulls only skips the left-side tags.

    `ts_tiebreak` names any right column (not necessarily in
    value_cols) that orders equal-timestamp right rows; without it,
    which of several equal-ts right rows wins is engine-dependent.
    """
    _check_asof_output_names(left.columns, value_cols)
    lcols = left.columns
    rstruct_cols = list(value_cols)
    if ts_tiebreak and ts_tiebreak not in rstruct_cols:
        rstruct_cols.append(ts_tiebreak)
    # A NULL-ts right row can never be "the most recent row <= ts" —
    # but ascending sort puts NULLs FIRST, so without this filter it
    # sat at the window's start and matched every left row that had no
    # real predecessor (found live: window form returned the null-ts
    # row where merge_asof returns no match). Null-ts LEFT rows need
    # no special case: they sort before every right row and correctly
    # carry a null match.
    tagged_right = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(F.struct(*lcols).alias("s")).schema["s"].dataType
        ).alias("__l"),
        F.struct(*[F.col(c) for c in rstruct_cols]).alias("__r"),
    )
    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # left sorts after right at equal ts
        F.struct(*lcols).alias("__l"),
        F.lit(None).cast(
            tagged_right.schema["__r"].dataType
        ).alias("__r"),
    )
    unioned = tagged_left.unionByName(tagged_right)
    order = [F.col("__ts").asc(), F.col("__side").asc()]
    if ts_tiebreak:
        order.insert(1, F.col(f"__r.{ts_tiebreak}").asc_nulls_last())
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "__side",
        "__l",
        F.last("__r", ignorenulls=True).over(w).alias("__m"),
    )
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__m.{c}").alias(f"asof_{c}") for c in value_cols],
    )
