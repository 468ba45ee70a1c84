"""Second batch of classic TPC-H shapes (Q7/Q8/Q13/Q15/Q17/Q19/Q22
analogs), adapted to the trimmed testdata schema (no partsupp /
shipmode / phone columns — queries needing those have no faithful
analog and are omitted rather than faked).

Determinism: money aggregates via exact BIGINT cents with ONE double
division at the end; ratio queries divide two exact integer sums.
l_shipdate arrives as timestamp — always to_date/CAST before
comparing or bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.functions.scalar import discounted_revenue_cents
from data_engineering_hs_spark.queries.registry import register

_REV_CENTS = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


@register(
    "q7_nation_volume",
    oracle=f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT) AS ship_year,
       CAST(SUM({_REV_CENTS}) AS DOUBLE) / 100.0 AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, ship_year
ORDER BY supp_nation, cust_nation, ship_year
""",
    doc="TPC-H Q7 shape: the same dim table (nation) joined on TWO "
    "roles with a symmetric pair predicate + year bucketing",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).alias("ship_year"),
        )
        .agg((F.sum(discounted_revenue_cents()).cast("double") / 100.0).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
WITH all_nations AS (
  SELECT CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT) AS o_year,
         {_REV_CENTS} AS volume_cents,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END)
            AS DOUBLE) / CAST(SUM(volume_cents) AS DOUBLE) AS mkt_share
FROM all_nations
GROUP BY o_year
ORDER BY o_year
""",
    doc="TPC-H Q8 shape: market share = conditional-sum ratio per year "
    "over a 6-way join (ratio of two exact integer sums)",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    vol = discounted_revenue_cents()
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("long")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .groupBy(F.year(F.to_date("l_shipdate")).alias("o_year"))
        .agg(
            (
                F.sum(nation_vol).cast("double") / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_order_count_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="TPC-H Q13 shape: LEFT join with an extra join-predicate, then "
    "a histogram of per-key counts (double aggregation)",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM({_REV_CENTS}) AS total_cents
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_cents AS DOUBLE) / 100.0 AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_cents = (SELECT MAX(total_cents) FROM revenue)
ORDER BY s.s_suppkey
""",
    doc="TPC-H Q15 shape: aggregate view, scalar-max subquery against "
    "the same view, join back to the dim (argmax without a window)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1996-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(discounted_revenue_cents()).alias("total_cents"))
    )
    top = revenue.agg(F.max("total_cents").alias("max_cents"))
    return (
        revenue.join(F.broadcast(top), F.col("total_cents") == F.col("max_cents"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_cents").cast("double") / 100.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
  SELECT l_partkey, AVG(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.5 * pa.avg_qty
""",
    doc="TPC-H Q17 shape: correlated-average subquery decorrelated to "
    "a per-key aggregate joined back (the standard Catalyst rewrite)",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_part = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(per_part, F.col("l_partkey") == F.col("pa_key"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(price_cents).cast("double") / 100.0 / 7.0).alias("avg_yearly")
        )
    )


@register(
    "q19_bracketed_revenue",
    oracle=f"""
SELECT CAST(SUM({_REV_CENTS}) AS DOUBLE) / 100.0 AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 15 AND 35)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 25 AND 50)
""",
    doc="TPC-H Q19 shape: disjunction of conjunctive brackets across "
    "both join sides (tests OR-predicate pushdown/join planning)",
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(15, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(25, 50)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            (F.sum(discounted_revenue_cents()).cast("double") / 100.0).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
WITH avg_bal AS (
  -- exact: integer-cent sum, single division (bit-identical engines)
  SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 100.0 AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey AS nation_key, COUNT(*) AS numcust,
       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01'
  )
GROUP BY c.c_nationkey
ORDER BY nation_key
""",
    doc="TPC-H Q22 shape: scalar-average subquery as a filter bound + "
    "NOT EXISTS anti-join + grouped aggregate",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / F.count("*")
            / 100.0
        ).alias("a")
    )
    bal_cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(bal_cents).cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("nation_key")
    )
