"""SQL-API surface queries: the same engine driven through
`spark.sql` over registered temp views (SURVEY §2.1 S28 — the staged
temp-table idiom), plus the custom-stateful-operator parity query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.queries.registry import register


@register(
    "sql_api_staged_views",
    oracle="""
WITH big_spenders AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10
)
SELECT c.c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(b.cents) AS BIGINT) AS total_cents
FROM big_spenders b JOIN customer c ON b.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""",
    doc="SQL-text API over staged temp views (S28): CTE-style stage → "
    "join → agg, same Catalyst plan as the DataFrame form",
)
def sql_api_staged_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW big_spenders AS
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM v_orders GROUP BY o_custkey HAVING COUNT(*) >= 10
        """
    )
    return spark.sql(
        """
        SELECT c.c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(b.cents) AS BIGINT) AS total_cents
        FROM big_spenders b JOIN v_customer c ON b.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
        """
    )


@register(
    "st_kv_counter",
    oracle="""
SELECT event_type AS key, COUNT(*) AS count
FROM events GROUP BY event_type
""",
    doc="custom stateful operator parity: applyInPandasWithState "
    "running counters (Redis INCR analog, S26) replayed over the "
    "events stream — final per-key totals equal the batch group-count",
)
def st_kv_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from data_engineering_hs_spark.queries.streaming_q import _events_stream
    from data_engineering_hs_spark.streaming.kv import stateful_counter
    from data_engineering_hs_spark.streaming.pipelines import run_to_memory

    stream = _events_stream(spark, sf_dir).select(
        F.col("event_type").alias("key")
    )
    _, table = run_to_memory(
        stateful_counter(stream), f"kvq_{uuid.uuid4().hex[:12]}", "update"
    )
    # update-mode emits one row per key per batch; the final total per
    # key is the max across updates.
    return table.groupBy("key").agg(F.max("count").alias("count"))
