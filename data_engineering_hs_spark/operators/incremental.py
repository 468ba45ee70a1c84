"""Incremental materialized-aggregate maintenance (delta-merge MVs).

The pattern behind every "keep the daily rollup fresh without
recomputing history" job: persist PARTIAL aggregate states per key
(algebraic aggregates — sum/count/min/max — merge associatively), and
each new increment appends its own partials instead of touching old
rows. Reading the MV is a final merge over the partial states; with
the store bucketed on the key, that merge reads Exchange-free
(plan-asserted in tests/test_scale_ops.py), so at 100 TB each
refresh shuffles ONE increment, never the corpus — the same
store-shape argument as the incremental dedup stores
(operators/dedup.py). Reference analog: the dbt incremental models
(magic_shop fct_orders, delete+insert) recompute affected partitions;
partial-state merge is the engine-native upgrade that never rewrites
history at all.

Append-only stores accrete one row per key per increment; materialize()
merges them at read time.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.operators.scale import write_bucketed

# measure spec: out_col -> (merge_fn, source expression string)
# merge_fn in {"sum", "count", "min", "max"}; count partials merge
# by SUM, everything else by itself.
# OVERFLOW CONTRACT (r13 audit): a "sum" over a LONG source column
# accumulates across every increment forever — under ANSI that is a
# job-killer once the lifetime total passes 2^63. Bound it yourself
# or widen the source expression ("CAST(x AS DECIMAL(38,0))"); count
# partials are bounded by lifetime row count and decimal sources
# are exact.
_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def partial_aggs(
    df: DataFrame,
    key_cols: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
) -> DataFrame:
    """One partial-state row per key for this increment. Plain
    groupBy — Spark's partial aggregation already combines map-side,
    so the shuffle carries one row per key per map task."""
    aggs = []
    for out, (fn, src) in measures.items():
        if fn == "count":
            aggs.append(F.count(F.expr(src)).alias(out))
        else:
            aggs.append(_MERGE[fn](F.expr(src)).alias(out))
    return df.groupBy(*key_cols).agg(*aggs)


def commit_increment(
    partials: DataFrame,
    table_name: str,
    key_cols: Sequence[str],
    num_buckets: int = 32,
    overwrite: bool = False,
) -> None:
    """Append this increment's partial states to the bucketed store
    (overwrite=True bootstraps / replaces the store).

    Bootstrap is robust to a DANGLING warehouse directory: a managed
    table dir left by a previous session (whose catalog is gone)
    makes saveAsTable fail with LOCATION_ALREADY_EXISTS even in
    overwrite mode, so the bootstrap drops the catalog entry AND
    clears the default location first."""
    if overwrite:
        spark = partials.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        # Warehouse layout depends on the (qualified) name: default-db
        # tables live at <wh>/<tbl>, any other database at
        # <wh>/<db>.db/<tbl>. A 3-part name's catalog segment never
        # appears in the path.
        parts = [p.strip("`").lower() for p in table_name.split(".")]
        tbl = parts[-1]
        # a 1-part name resolves to the session's CURRENT database,
        # not literally 'default' — assuming 'default' pointed the
        # cleanup at the wrong directory whenever setCurrentDatabase
        # was in effect, and the bootstrap still died
        db = (
            parts[-2]
            if len(parts) >= 2
            else spark.catalog.currentDatabase().lower()
        )
        loc = f"{wh.rstrip('/')}/{tbl}" if db == "default" else (
            f"{wh.rstrip('/')}/{db}.db/{tbl}"
        )
        # Delete through Hadoop's FileSystem, not shutil: the
        # warehouse can be file:, hdfs:, or s3a: — a local rmtree on
        # a remote URI is a silent no-op and the bootstrap still dies
        # with LOCATION_ALREADY_EXISTS off local FS.
        jvm = spark._jvm  # noqa: SLF001
        jpath = jvm.org.apache.hadoop.fs.Path(loc)
        fs = jpath.getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )
        fs.delete(jpath, True)
    write_bucketed(
        partials,
        table_name,
        key_cols,
        num_buckets=num_buckets,
        mode="overwrite" if overwrite else "append",
    )


def materialize(
    spark: SparkSession,
    table_name: str,
    key_cols: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
) -> DataFrame:
    """Final merge of all committed partial states → the MV. The
    groupBy key equals the store's bucketing key, so the bucketed
    scan satisfies the required clustering and no Exchange appears."""
    store = spark.table(table_name)
    aggs = [
        _MERGE["sum" if fn == "count" else fn](F.col(out)).alias(out)
        for out, (fn, _src) in measures.items()
    ]
    return store.groupBy(*key_cols).agg(*aggs)
