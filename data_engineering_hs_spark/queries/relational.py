"""Relational-core queries over the driver testdata (SURVEY.md §2).

Each query re-expresses a reference capability on the TPC-H-ish
tables and carries a DuckDB oracle. Names cite the §2 operator ids
they cover.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.functions.scalar import discounted_revenue_cents, money_cents
from data_engineering_hs_spark.operators import relational as R
from data_engineering_hs_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Flagship: the revenue_analysis daily-KPI shape (SURVEY §3.1) transplanted
# onto lineitem/orders/customer/nation. Exercises P2-P6, J1-J3, A4-A6, W1,
# O2 in one plan. Reference: revenue_analysis/main.ipynb:204-287.
# ---------------------------------------------------------------------------

FLAGSHIP_ORACLE = """
WITH base AS (
  SELECT
    strftime(date_trunc('month', l.l_shipdate), '%Y-%m-%d') AS ship_month,
    n.n_name AS nation,
    o.o_custkey AS custkey,
    l.l_returnflag AS returnflag,
    CASE WHEN l.l_returnflag <> 'R'
         THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
         ELSE 0 END AS revenue_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderstatus <> 'X'
), agg AS (
  SELECT
    ship_month, nation,
    COUNT(*) AS n_items,
    COUNT(CASE WHEN returnflag = 'R' THEN 1 END) AS n_returns,
    CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
    COUNT(DISTINCT custkey) AS n_customers
  FROM base GROUP BY ship_month, nation
)
SELECT
  ship_month, nation, n_items, n_returns,
  CAST(revenue_cents AS DOUBLE) / 100.0 AS revenue,
  n_customers,
  CAST(SUM(revenue_cents) OVER (
    PARTITION BY nation ORDER BY ship_month
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS revenue_3mo
FROM agg
ORDER BY nation, ship_month
"""


@register(
    "flagship_daily_kpi",
    oracle=FLAGSHIP_ORACLE,
    doc="revenue-analysis KPI pipeline: derive+filter+broadcast joins+"
    "multi-agg+count_distinct+rolling window (P2-P6,J1-J3,A4-A6,W1)",
    bench=True,
)
def flagship_daily_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    # Only nation (25 rows, SF-invariant) gets a broadcast hint.
    # customer GROWS with scale factor (150k×SF — tens of GB at the
    # 100-TB target), so its join is left to AQE: small at test SFs it
    # converts to broadcast at runtime, big in production it shuffles.
    base = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .filter(F.col("o_orderstatus") != "X")
        .select(
            # Group on the truncated DATE and format AFTER the agg
            # (r16, guide §2.3): date_format ran per FACT row (600k at
            # sf0.1) when only the ~2k aggregated groups need the
            # string — moving it post-agg measured −16.7% (interleaved
            # A/B, ordered output identical at sf0.01 AND sf0.1), and
            # the shuffle key narrows from a 10-char string to a
            # 4-byte date. Date outputs stay ISO strings engine-wide
            # (pandas/duckdb date conversions differ, strings never
            # do) — the format just happens once per group now.
            F.trunc(F.col("l_shipdate"), "month").alias("__ship_month_d"),
            F.col("n_name").alias("nation"),
            F.col("o_custkey").alias("custkey"),
            F.col("l_returnflag").alias("returnflag"),
            F.when(F.col("l_returnflag") != "R", discounted_revenue_cents())
            .otherwise(F.lit(0).cast("long"))
            .alias("revenue_cents"),
        )
    )
    agg = (
        base.groupBy("__ship_month_d", "nation")
        .agg(
            F.count("*").alias("n_items"),
            F.count(F.when(F.col("returnflag") == "R", 1)).alias("n_returns"),
            F.sum("revenue_cents").alias("revenue_cents"),
            F.countDistinct("custkey").alias("n_customers"),
        )
        # yyyy-MM-dd formatting is order-isomorphic to the date, so
        # the window / final sort below see the same order either way
        .withColumn("ship_month", F.date_format("__ship_month_d", "yyyy-MM-dd"))
    )
    w = Window.partitionBy("nation").orderBy("ship_month").rowsBetween(-2, 0)
    return (
        agg.select(
            "ship_month",
            "nation",
            "n_items",
            "n_returns",
            (F.col("revenue_cents").cast("double") / 100.0).alias("revenue"),
            "n_customers",
            (F.sum("revenue_cents").over(w).cast("double") / 100.0).alias(
                "revenue_3mo"
            ),
        )
        .orderBy("nation", "ship_month")
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: the canonical partial/final agg scan (A1-A6, P4, P6).
# Mirrors the reference's scan-filter-aggregate labs at columnar scale.
# ---------------------------------------------------------------------------

Q1_ORACLE = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0 AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    oracle=Q1_ORACLE,
    doc="TPC-H Q1 shape: wide multi-agg with date predicate (A1-A6,P4,P6)",
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    base = money_cents(F.col("l_extendedprice"))
    disc = discounted_revenue_cents()
    charge = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100
    ).cast("long")
    return (
        l.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(base).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(disc).cast("double") / 100.0).alias("sum_disc_price"),
            (F.sum(charge).cast("double") / 100.0).alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(base).cast("double") / F.count("*") / 100.0).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Filters / predicates (P5-P10, O5)
# ---------------------------------------------------------------------------


@register(
    "p_compound_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_quantity >= 45
  AND l_returnflag IN ('A', 'R')
  AND l_discount BETWEEN 0.05 AND 0.07
""",
    doc="compound boolean + isin + range predicates (P5-P8) — the "
    "lab01 full-scan-filter baseline shape (13.2 s pandas at 9.4M rows)",
    bench=True,
)
def p_compound_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_quantity") >= 45)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_discount").between(0.05, 0.07)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "p_ilike_scan",
    oracle="""
SELECT p_partkey, p_name, p_type
FROM part
WHERE p_type ILIKE '%promo%' OR p_name ILIKE 'red%'
""",
    doc="case-insensitive pattern match (P9, F6) — lab03 ILIKE parity; "
    "'%promo%' only matches the uppercase PROMO types through ILIKE, "
    "so the result is non-empty AND proves case-insensitivity",
)
def p_ilike_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").ilike("%promo%") | F.col("p_name").ilike("red%")
    ).select("p_partkey", "p_name", "p_type")


@register(
    "p_distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    doc="deduplicated projection (P15, U2) — SELECT DISTINCT badge_uid shape",
)
def p_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "p_time_of_day",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
WHERE strftime(ts, '%H:%M') >= '13:00' AND strftime(ts, '%H:%M') < '13:15'
GROUP BY event_type
ORDER BY event_type
""",
    doc="time-of-day window predicate (P6, F12) — lab03 13:00-13:15 shape",
)
def p_time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tod = F.date_format("ts", "HH:mm")
    return (
        e.filter((tod >= "13:00") & (tod < "13:15"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "o_sample_deterministic",
    # md5-over-string ordering hash (operators.relational.sample_exact)
    # is bit-identical across engines, so the pseudo-random sample
    # itself is a hard DuckDB oracle, not just rows-only.
    oracle="""
SELECT c_custkey, c_name
FROM customer
ORDER BY md5(CAST(c_custkey AS VARCHAR) || '|42'), c_custkey
LIMIT 10
""",
    doc="deterministic exact-n sample (O5) — pandas .sample(n, seed) analog",
)
def o_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return R.sample_exact(c.select("c_custkey", "c_name"), n=10, seed=42, sort_key="c_custkey")


# ---------------------------------------------------------------------------
# Joins (J1-J8)
# ---------------------------------------------------------------------------


@register(
    "j_broadcast_dim_join",
    oracle="""
SELECT n.n_name AS nation, r.r_name AS region,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
ORDER BY n.n_name
""",
    doc="broadcast equi-joins against small dims + group agg (J1,J2,J4)",
    bench=True,
)
def j_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(money_cents("c_acctbal")).cast("double") / 100.0).alias(
                "total_acctbal"
            ),
        )
        .orderBy("nation")
    )


@register(
    "j_left_join_coalesce",
    oracle="""
SELECT c.c_custkey, c.c_name,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.total_cents, 0) AS total_cents
FROM customer c
LEFT JOIN (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
""",
    doc="left join against pre-aggregated side + ifNull (J5,J6,P13,F17) — "
    "fct_orders outstanding shape",
)
def j_left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pre = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(money_cents("o_totalprice")).alias("total_cents"),
    )
    return c.join(pre, c.c_custkey == pre.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_cents", F.lit(0)).alias("total_cents"),
    )


@register(
    "j_semi_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
""",
    doc="left-semi join: the scale-safe isin / EXISTS (J7, P7)",
)
def j_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return R.semi_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "j_anti_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
""",
    doc="left-anti join: NOT EXISTS / upsert-dedup core (S21 extension); "
    "customers with no high-value order — every customer has SOME "
    "order in the testdata, so the unfiltered version was vacuous",
)
def j_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return R.anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "j_using_inner",
    oracle="""
SELECT s.s_name, n.n_name AS nation
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_regionkey = 1
""",
    doc="inner equi-join USING-style with post-join predicate (J3,J4)",
)
def j_using_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A10)
# ---------------------------------------------------------------------------


@register(
    "a_group_count",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="group-count (A1) — word-count / uniq -c shape",
)
def a_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )


@register(
    "a_group_avg_cast",
    oracle="""
SELECT c_mktsegment,
       CAST(floor(CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                  / COUNT(*) / 100.0) AS BIGINT) AS avg_bal_floor
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="group-avg with integer cast (A2) — AVG(midichlorians)::INTEGER shape",
)
def a_group_avg_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avg_dbl = F.sum(money_cents("c_acctbal")).cast("double") / F.count("*") / 100.0
    return (
        c.groupBy("c_mktsegment")
        .agg(F.floor(avg_dbl).cast("long").alias("avg_bal_floor"))
        .orderBy("c_mktsegment")
    )


@register(
    "a_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
""",
    doc="HAVING post-agg filter (A7) — ≥3 coffee purchases shape",
)
def a_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return R.having(
        o, ["o_custkey"], [F.count("*").alias("n_orders")], F.col("n_orders") >= 12
    )


@register(
    "a_mode",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS mode_count
FROM orders GROUP BY o_orderpriority
ORDER BY mode_count DESC, o_orderpriority ASC LIMIT 1
""",
    doc="mode / most-common value (A8) with deterministic tie-break",
)
def a_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.mode_of(load_table(spark, sf_dir, "orders"), "o_orderpriority")


@register(
    "a_conditional_multi",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="multi-agg with conditional count + exact distinct (A3-A6)",
)
def a_conditional_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias(
                "n_urgent"
            ),
            F.countDistinct("o_custkey").alias("n_customers"),
            (F.sum(money_cents("o_totalprice")).cast("double") / 100.0).alias(
                "total_price"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "a_approx_distinct",
    # The HLL estimate is approximate by design, but its error
    # contract is exact-checkable: emit the exact distinct count plus
    # a boolean asserting the sketch (rsd=0.02) landed within 5%
    # relative error. The oracle computes the exact count and asserts
    # TRUE — a sketch regression now fails the hash, not just a
    # rows-only check.
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="approx_count_distinct — the 100 TB twin of A6 (engine "
    "extension); emits the exact count plus a sketch-within-5%% "
    "boolean so the approximation contract is oracle-checked",
)
def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("__approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "a_rollup",
    oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    doc="rollup grouping-sets (engine extension beyond A4)",
)
def a_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# Windows (W1 + ranking family)
# ---------------------------------------------------------------------------


@register(
    "w_rank_lag_family",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       LAG(s_suppkey) OVER w AS prev_suppkey,
       LEAD(s_suppkey) OVER w AS next_suppkey,
       CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT))
            OVER (PARTITION BY s_nationkey ORDER BY s_suppkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
         AS running_bal
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_suppkey)
""",
    doc="ranking/analytic window family (W1 extension): row_number, rank, "
    "lag/lead, running sum",
)
def w_rank_lag_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_suppkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return s.select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.lag("s_suppkey").over(w).alias("prev_suppkey"),
        F.lead("s_suppkey").over(w).alias("next_suppkey"),
        (F.sum(money_cents("s_acctbal")).over(wsum).cast("double") / 100.0).alias(
            "running_bal"
        ),
    )


@register(
    "w_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) t WHERE rn <= 3
ORDER BY c_mktsegment, rn
""",
    doc="top-k per group via row_number window (O4 generalized)",
    bench=True,
)
def w_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (O1-O4)
# ---------------------------------------------------------------------------


@register(
    "o_global_topk",
    oracle="""
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
""",
    doc="global top-k → TakeOrderedAndProject, no full sort (O1,O3,O4)",
)
def o_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return R.top_k(
        c.select("c_custkey", "c_name", "c_acctbal"),
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        10,
    )


@register(
    "o_multikey_sort",
    oracle="""
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM orders WHERE o_custkey <= 20
ORDER BY o_custkey ASC, orderdate DESC, o_orderkey ASC
""",
    doc="multi-key mixed-direction sort (O2)",
)
def o_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") <= 20)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.asc("o_custkey"), F.desc("orderdate"), F.asc("o_orderkey"))
    )


# ---------------------------------------------------------------------------
# Set operations (U1-U2 + extensions)
# ---------------------------------------------------------------------------


@register(
    "u_union_distinct",
    oracle="""
SELECT n_nationkey AS nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS n_nationkey FROM supplier
) t GROUP BY n_nationkey
""",
    doc="union-all + distinct (U1,U2)",
)
def u_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct()


@register(
    "u_intersect_except",
    oracle="""
SELECT nationkey, 'both' AS side FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
) a
UNION ALL
SELECT nationkey, 'customer_only' AS side FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
) b
""",
    doc="intersect + except (set-op extensions, SURVEY §2.7)",
)
def u_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = c.intersect(s).withColumn("side", F.lit("both"))
    only = c.exceptAll(s).withColumn("side", F.lit("customer_only"))
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Data-quality assertions as queries (Q1-Q3) — violation counts must be 0 /
# match the oracle exactly.
# ---------------------------------------------------------------------------


@register(
    "dq_checks",
    oracle="""
SELECT 'orders.o_orderkey.not_null' AS check_name,
       COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS violations FROM orders
UNION ALL
SELECT 'orders.o_orderkey.unique' AS check_name,
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS violations FROM (
  SELECT COUNT(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
  GROUP BY o_orderkey HAVING COUNT(*) > 1
) d
UNION ALL
SELECT 'orders.o_orderstatus.accepted_values' AS check_name,
       COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS violations
FROM orders
""",
    doc="dbt-style data tests: not_null / unique / accepted_values (Q1-Q3)",
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.quality.assertions import (
        accepted_values_violations,
        not_null_violations,
        unique_violations,
    )

    o = load_table(spark, sf_dir, "orders")
    return (
        not_null_violations(o, "o_orderkey", "orders")
        .unionByName(unique_violations(o, "o_orderkey", "orders"))
        .unionByName(
            accepted_values_violations(o, "o_orderstatus", ["O", "F", "P"], "orders")
        )
    )


@register(
    "dq_profile_documents",
    oracle="""
SELECT 'doc_id' AS column, COUNT(*) AS n_rows,
       COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS n_nulls,
       COUNT(DISTINCT doc_id) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_str,
       CAST(MAX(doc_id) AS VARCHAR) AS max_str
FROM documents
UNION ALL
SELECT 'lang', COUNT(*),
       COUNT(CASE WHEN lang IS NULL THEN 1 END),
       COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
UNION ALL
SELECT 'source', COUNT(*),
       COUNT(CASE WHEN source IS NULL THEN 1 END),
       COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*),
       COUNT(CASE WHEN n_chars IS NULL THEN 1 END),
       COUNT(DISTINCT n_chars),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
FROM documents
""",
    doc="deequ-style table profile: per-column rows/nulls/distinct/"
    "min/max in ONE scan (array-of-structs aggregate, exploded)",
)
def dq_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.quality.profiling import profile_table

    d = load_table(spark, sf_dir, "documents")
    return profile_table(d, ["doc_id", "lang", "source", "n_chars"])


@register(
    "dq_key_skew",
    oracle="""
WITH c AS (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
     t AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows,
                  MAX(n) AS top1_cnt FROM c),
     r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS rn FROM c)
SELECT CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(t.n_rows AS BIGINT) AS n_rows,
       CAST(t.top1_cnt AS BIGINT) AS top1_cnt,
       CAST(CAST(t.top1_cnt AS HUGEINT) * 1000000 // t.n_rows AS BIGINT)
           AS max_share_ppm,
       (SELECT CAST(MIN(n) AS BIGINT) FROM r
        WHERE rn >= CEIL(0.99 * t.n_keys)) AS p99_cnt
FROM t
""",
    doc="join-key skew diagnostics on lineitem.l_suppkey: hot-key "
    "share (integer ppm) + nearest-rank p99 key count — the "
    "measurement behind the salting/AQE-skew-join decision at scale. "
    "All-integer outputs so the cross-engine hash compare is exact "
    "by construction (no ratio/interpolation ulps).",
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.quality.profiling import key_skew_stats

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_stats(li, "l_suppkey")
