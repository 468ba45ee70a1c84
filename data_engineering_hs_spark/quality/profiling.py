"""Dataset profiling: the deequ/`dbt docs`-statistics analog.

- profile_table: one aggregation pass per statistics family over every
  column — (column, n_rows, n_nulls, n_distinct, min_str, max_str).
  The scan reads each column once; all stats reduce map-side, so the
  profile of a 100-TB table is one shuffle of a FEW rows per column.
  min/max serialize as strings so one long-format report covers mixed
  column types (the DuckDB oracle does the same).
- key_skew_stats: join/groupBy-key distribution diagnostics —
  (n_keys, n_rows, top1_cnt, max_share_ppm, p99_cnt). max_share_ppm
  is the hot-key fraction in parts-per-million: > a few percent
  (tens of thousands of ppm) means a plain shuffle join will
  straggle and the key needs AQE skew-split or salting. Run this
  BEFORE picking a join strategy at scale; it is the measurement the
  salting decision should cite. Every output is an INTEGER by design:
  the report is hash-compared against cross-engine oracles, and
  doubles (a share
  ratio, an interpolated percentile) diverge by ulps between
  engines — floor-to-ppm and nearest-rank end the argument without
  losing any precision a skew decision could use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Long-format per-column profile; exact counts (profiling runs
    offline — approx variants belong in monitoring, not the oracle-
    checked profile). All columns' stats compute in ONE aggregation
    (an array of per-column stat structs, exploded to rows), so the
    table scans exactly once however many columns it has."""
    cols = cols or df.columns

    def stats(c: str):
        col = F.col(c)
        return F.struct(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_str"),
            F.max(col).cast("string").alias("max_str"),
        )

    one = df.agg(F.array(*[stats(c) for c in cols]).alias("__a"))
    return one.select(F.explode("__a").alias("s")).select("s.*")


def key_skew_stats(df: DataFrame, key_col: str) -> DataFrame:
    """Single-row key-distribution summary for a prospective join/agg
    key. All-integer outputs (see module docstring): max_share_ppm =
    floor(1e6 * top1_cnt / n_rows), p99_cnt = classic nearest-rank
    percentile (the count held by the key at sorted position
    ceil(0.99 * n_keys)).

    Scale path: per-key counts reduce map-side; the percentile is
    then computed from a HISTOGRAM of count values (count -> how many
    keys have it), not by buffering every key's count — distinct
    count-VALUES number in the hundreds even when distinct KEYS
    number in the billions, so the cumulative-sum window runs over a
    driver-trivial frame and nothing in the plan holds per-key state.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__cnt"))
    hist = counts.groupBy("__cnt").agg(F.count(F.lit(1)).alias("__freq"))
    totals = hist.agg(
        F.sum("__freq").alias("n_keys"),
        F.sum(F.col("__cnt") * F.col("__freq")).alias("n_rows"),
        F.max("__cnt").alias("top1_cnt"),
    )
    # Cumulative key-count up each distinct count value; the frame is
    # tiny (distinct __cnt values), so the unpartitioned window is
    # deliberate, not an oversight.
    w = Window.orderBy("__cnt").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("__cnt", F.sum("__freq").over(w).alias("__cum"))
    p99 = (
        cum.crossJoin(F.broadcast(totals.select("n_keys")))
        .where(F.col("__cum") >= F.ceil(F.lit(0.99) * F.col("n_keys")))
        .agg(F.min("__cnt").alias("p99_cnt"))
    )
    return totals.crossJoin(F.broadcast(p99)).select(
        "n_keys",
        "n_rows",
        "top1_cnt",
        # ppm in exact 128-bit integer math (r13 overflow lens):
        # 1_000_000 * top1_cnt as a LONG product overflows (ANSI
        # job-killer) once the hottest key holds > ~9.2e12 rows —
        # reachable at 100 TB of small records. DECIMAL(38,0) widens
        # the product; DIV keeps the floor-division exact (no
        # double rounding above 2^53, no decimal-scale rounding).
        F.expr(
            "CAST((CAST(top1_cnt AS DECIMAL(38,0)) * 1000000)"
            " DIV n_rows AS BIGINT)"
        ).alias("max_share_ppm"),
        "p99_cnt",
    )


def freshness(
    df: DataFrame,
    ts_col: str,
    as_of: str,
    warn_after_hours: int = 24,
    error_after_hours: int = 168,
) -> DataFrame:
    """dbt source-freshness analog: newest timestamp vs an `as_of`
    reference ('YYYY-MM-DD HH:MM:SS'), bucketed pass/warn/error.

    `as_of` is an explicit parameter, not now(): freshness checks in a
    scheduled pipeline must be reproducible for a given run timestamp
    (and a cross-engine oracle needs the same instant). One max()
    aggregation — a metadata-cheap full-column scan that parquet
    statistics usually satisfy per row group.
    """
    lag = F.unix_timestamp(F.lit(as_of).cast("timestamp")) - F.unix_timestamp(
        F.max(ts_col)
    )
    status = (
        # no data at all (empty table / all-NULL ts) is the WORST
        # freshness state, not a pass: a NULL max would null both lag
        # comparisons and fall through to 'pass' otherwise — dbt
        # source-freshness errors here too
        F.when(F.max(ts_col).isNull(), "error")
        .when(lag > error_after_hours * 3600, "error")
        .when(lag > warn_after_hours * 3600, "warn")
        .otherwise("pass")
    )
    return df.agg(
        F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        lag.alias("lag_seconds"),
        status.alias("status"),
    )


def schema_drift(old_schema, new_schema) -> list[dict]:
    """Structural diff of two StructTypes: added / removed /
    type-changed columns (nested types compared by simpleString).
    Driver-side metadata — the gate an ingestion DAG runs before
    appending a new drop to an existing table (mergeSchema=True hides
    drift; this surfaces it as data, so policy can decide)."""
    old = {f.name: f.dataType.simpleString() for f in old_schema.fields}
    new = {f.name: f.dataType.simpleString() for f in new_schema.fields}
    out: list[dict] = []
    for name in sorted(new.keys() - old.keys()):
        out.append({"column": name, "change": "added", "type": new[name]})
    for name in sorted(old.keys() - new.keys()):
        out.append({"column": name, "change": "removed", "type": old[name]})
    for name in sorted(old.keys() & new.keys()):
        if old[name] != new[name]:
            out.append(
                {
                    "column": name,
                    "change": "type_changed",
                    "type": f"{old[name]} -> {new[name]}",
                }
            )
    return out
