"""Scale-path join strategies: bucketing and skew salting.

The reference hand-optimizes joins only via broadcast (SURVEY §4);
at 100 TB the other two levers are:

- **Bucketed tables** (`write_bucketed`): persist both join sides
  pre-hash-partitioned and sorted on the key. A later equi-join reads
  bucket-aligned splits and sort-merges with NO Exchange on either
  side — the one-time shuffle at write amortizes across every
  downstream join/agg on that key (ClickHouse MergeTree order_by
  analog, fct_orders.sql:13-15).
- **Salted join** (`salted_join`): for a skewed fact key (the
  reference generates intentionally skewed countries,
  generate_data_json.py:62-64), explode the dim side into
  `salt_buckets` copies and scatter the fact side's hot keys across
  salts, so no single reducer owns a hot key. AQE's skew-join split
  handles moderate skew automatically; salting is the explicit fix
  when one key dominates a partition entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
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


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join on `key`: fact rows get a scattered salt,
    the dim side is replicated across all salts, and the join key
    becomes (key, salt). Output columns match a plain
    `fact.join(dim, key)`.

    Use when one key's row count dwarfs the per-task budget; for
    moderate skew prefer plain join + AQE skewJoin (on by default in
    this engine's session factory).

    Only inner and left joins are supported: the dim side is
    REPLICATED across all salt buckets, so right/full-outer would
    surface one NULL-padded row per unmatched dim COPY (and per salt
    value a matched key's fact rows don't hash to) — silently wrong
    multiplicity. Put the replicated side on the left of a plain AQE
    join if you need outer-dim semantics.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left only, not {how!r}: the "
            "replicated dim side breaks right/full-outer multiplicity"
        )
    # Salt from the row's POSITION, not its content: a content hash
    # (xxhash64 of all columns) sends byte-identical duplicate fact
    # rows to ONE salt bucket, so salting degrades exactly on the
    # corpus it exists for (hot keys full of exact-duplicate rows).
    # monotonically_increasing_id is unique per row regardless of
    # content; hashing it scatters hot keys uniformly.
    salt = F.pmod(
        F.xxhash64(F.col(key), F.monotonically_increasing_id()),
        F.lit(salt_buckets),
    )
    fact_salted = fact.withColumn("__salt", salt)
    salts = fact.sparkSession.range(salt_buckets).select(
        F.col("id").alias("__salt")
    )
    dim_salted = dim.crossJoin(F.broadcast(salts))
    out = fact_salted.join(dim_salted, [key, "__salt"], how)
    return out.drop("__salt")


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


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 12,
    n_files: int = 8,
) -> None:
    """Write `df` as parquet laid out along a Morton curve over `cols`.

    Files then carry tight min/max ranges on EVERY z-ordered column
    simultaneously, so predicate pushdown on any of them skips most
    files — the Delta/Iceberg OPTIMIZE ZORDER analog, built from
    repartitionByRange + sortWithinPartitions (one range shuffle).
    Column stats come from one tiny agg broadcast into the scan, not
    a driver collect.

    Columns must be numeric/date/timestamp: a string column's
    cast('double') would NULL every row, silently collapsing the
    layout into one unclustered partition — fail loudly instead
    (hash or dictionary-encode strings to a numeric surrogate first).
    """
    from pyspark.sql import types as T

    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(
            dt,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
             T.TimestampType, T.TimestampNTZType, T.BooleanType),
        ):
            raise TypeError(
                f"zorder_write column {c!r} has non-numeric type "
                f"{dt.simpleString()}; z-ordering needs a numeric/"
                "temporal column (hash strings to a surrogate first)"
            )
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    )
    with_z = df.crossJoin(F.broadcast(stats)).withColumn(
        "__z",
        zvalue(
            [
                scale_to_bits(
                    F.col(c).cast("double"),
                    F.col(f"__lo_{c}"),
                    F.col(f"__hi_{c}"),
                    bits,
                )
                for c in cols
            ],
            bits,
        ),
    )
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_cols: Sequence[str] | None = None,
    target_file_bytes: int = 128 << 20,
    bits: int = 12,
) -> dict:
    """One-call table maintenance — the OPTIMIZE [ZORDER BY] analog.

    Without zorder_cols: plain small-files compaction (delegates to
    sources.parquet.compact_parquet, crash-safe rename-aside swap).
    With zorder_cols: rewrites the directory laid out along the
    Morton curve AND right-sized (file count from on-disk bytes /
    target), through the same crash-safe swap (sources.parquet.
    staged_rewrite — `_*.json` sidecars ride along), so one
    maintenance window fixes both file-count and clustering. Returns
    {"files_before", "files_after", "bytes"}. Not
    concurrent-reader-safe — see sources.parquet.swap_in's
    CONCURRENT-READER VISIBILITY note; run in the maintenance window.
    """
    from data_engineering_hs_spark.sources.parquet import (
        _require_local_swap_path,
        _resize_rewrite,
        compact_parquet,
        store_writer_lease,
    )

    _require_local_swap_path(path, "optimize_table")
    if not zorder_cols:
        # delegation — compact_parquet takes the store lease itself
        # (nesting here would self-deadlock: flock conflicts between
        # two descriptions even within one process)
        return compact_parquet(
            spark, path, target_file_bytes=target_file_bytes
        )
    # SINGLE-WRITER (enforced, r16): same lease as the rest of the
    # compaction family; the staged-snapshot tripwire stays as
    # defense against out-of-band writers.
    with store_writer_lease(path, "optimize_table"):
        return _resize_rewrite(
            spark,
            path,
            "optimize_table",
            target_file_bytes,
            lambda df, tmp, n: zorder_write(
                df, tmp, zorder_cols, bits=bits, n_files=n
            ),
        )
