"""Advanced operators: as-of join (DuckDB ASOF JOIN oracle) and
near-dup connected components (recursive-SQL oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.functions import text as TX
from data_engineering_hs_spark.operators.asof import asof_join
from data_engineering_hs_spark.operators.dedup import dup_groups
from data_engineering_hs_spark.queries.registry import register, stable_round_sql


@register(
    "j_asof_last_click",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  -- one click per (user, ms): several clicks can share a millisecond
  -- after truncation, and which one an ASOF join returns is engine-
  -- arbitrary — keep the max click_id so the winner is pinned
  SELECT user_id, epoch_ms(ts) AS ts_ms, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_ms(ts)
)
SELECT p.event_id, p.user_id, c.click_id AS asof_click_id
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
""",
    doc="as-of join (temporal): for each purchase, the most recent "
    "prior-or-simultaneous click of the same user — composed from "
    "union + window carry-forward (one shuffle, no range join); "
    "oracle is DuckDB's native ASOF JOIN",
)
def j_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # millisecond keys on both engines: identical truncation of the
    # source nanos, so comparisons agree exactly.
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    # same dedup as the oracle: one click per (user, ms), max id wins
    # — otherwise equal-ts ties are engine/partitioning-dependent
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_millis("ts").alias("ts_ms"))
        .agg(F.max("event_id").alias("click_id"))
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts_ms",
        right_ts="ts_ms",
        value_cols=["click_id"],
    ).select("event_id", "user_id", "asof_click_id")


_DUP_COMPONENTS_ORACLE = '''
WITH RECURSIVE edges AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, lang,
               list_distinct(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) AS tok_set
        FROM documents WHERE length(trim(text, ' ')) > 0) a
  JOIN (SELECT doc_id, lang,
               list_distinct(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) AS tok_set
        FROM documents WHERE length(trim(text, ' ')) > 0) b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tok_set, b.tok_set))) >= 0.9
), undirected AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION SELECT id_b, id_a FROM edges
), reach AS (
  SELECT src, dst FROM undirected
  UNION
  SELECT r.src, u.dst FROM reach r JOIN undirected u ON r.dst = u.src
)
SELECT src AS doc_id,
       LEAST(src, MIN(dst)) AS component
FROM reach GROUP BY src
'''


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(
        "doc_id", "lang", F.array_distinct(TX.tokens("text")).alias("tok_set")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect("a.tok_set", "b.tok_set"))
    union = F.size(F.array_distinct(F.concat("a.tok_set", "b.tok_set")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(inter.cast("double") / union >= 0.9)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )


@register(
    "d_dup_components",
    # Shares _DUP_COMPONENTS_ORACLE and _jaccard_pairs with
    # d_dup_components_star — ONE copy of the pair plan and the
    # recursive oracle keeps the algorithm twins hash-checked against
    # the identical contract.
    oracle=_DUP_COMPONENTS_ORACLE,
    doc="near-dup connected components: collapse exact-Jaccard pairs "
    "into canonical dedup clusters via iterative min-label propagation; "
    "oracle is a recursive reachability query",
)
def d_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_groups(_jaccard_pairs(spark, sf_dir))


@register(
    "d_dup_components_star",
    # Same pairs, same component contract, DIFFERENT algorithm:
    # alternating large-star/small-star contraction (O(log n) rounds
    # vs propagation's O(diameter)). Sharing d_dup_components' oracle
    # makes the algorithm swap itself hash-checked.
    oracle=_DUP_COMPONENTS_ORACLE,
    doc="connected components via large-star/small-star contraction "
    "(Kiveris et al.) — log-round twin of d_dup_components",
)
def d_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.dedup import dup_groups_star

    return dup_groups_star(_jaccard_pairs(spark, sf_dir))


@register(
    "j_range_ship_window",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
 AND CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
 AND CAST(l.l_shipdate AS DATE) <= CAST(o.o_orderdate AS DATE) + INTERVAL 30 DAY
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    doc="range (interval) join via bucketization: intervals explode "
    "into covered week buckets, points map to one bucket, equi-join "
    "on (key, bucket) + exact bounds filter — the Flink-interval-join "
    "shape instead of Spark's nested-loop BETWEEN plan",
)
def j_range_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.range_join import range_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.unix_timestamp(F.to_date("o_orderdate")).alias("w_start"),
        (F.unix_timestamp(F.to_date("o_orderdate")) + 30 * 86400).alias("w_end"),
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.unix_timestamp(F.to_date("l_shipdate")).alias("ship_s"),
    )
    joined = range_join(
        l, o, point_col="ship_s", start_col="w_start", end_col="w_end",
        on="o_orderkey", bucket_width=7 * 86400,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_lines"))
        .orderBy("o_orderpriority")
    )


@register(
    "ts_resample_interpolate",
    oracle="""
WITH facts AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_start,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 100.0 AS v
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi
  FROM facts GROUP BY 1
), spine AS (
  SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS bucket_start
  FROM bounds
), grid AS (
  SELECT s.event_type, s.bucket_start, f.n_events, f.v
  FROM spine s LEFT JOIN facts f
    ON s.event_type = f.event_type AND s.bucket_start = f.bucket_start
), w AS (
  SELECT event_type, bucket_start, n_events, v,
    LAST_VALUE(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket_start
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket_start END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket_start
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    FIRST_VALUE(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket_start
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bucket_start END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bucket_start
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM grid
)
SELECT event_type, bucket_start,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv) * (CAST(bucket_start AS DOUBLE) - pt)
                                  / (CAST(nt AS DOUBLE) - pt)
       END AS value_interp
FROM w
""",
    doc="time-series regularization: per-key hourly resample onto a "
    "dense spine, then linear interpolation of silent buckets "
    "(hypertable-rollup + gap-fill family; flat extrapolation at "
    "series edges)",
)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.timeseries import (
        interpolate_linear,
        resample,
    )

    e = load_table(spark, sf_dir, "events")
    exact_avg = (
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
        / F.count("*")
        / 100.0
    )
    grid = resample(
        e.withColumn("ts", F.unix_timestamp("ts")),
        "ts",
        ["event_type"],
        3600,
        {"n_events": F.count("*"), "v": exact_avg},
    )
    out = interpolate_linear(grid, "bucket_start", "v", ["event_type"])
    return out.select(
        "event_type",
        "bucket_start",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.col("value_interp"),
    )


@register(
    "g_radius_join",
    oracle="""
WITH points AS (
  SELECT event_id, user_id,
         CAST((user_id * 79) % 144 AS DOUBLE) / 4.0 - 18.0 AS lat,
         CAST((user_id * 131) % 288 AS DOUBLE) / 4.0 - 36.0 AS lon
  FROM events
), centers AS (
  SELECT s_suppkey,
         CAST((s_suppkey * 37) % 144 AS DOUBLE) / 4.0 - 18.0 AS c_lat,
         CAST((s_suppkey * 53) % 288 AS DOUBLE) / 4.0 - 36.0 AS c_lon
  FROM supplier
)
SELECT c.s_suppkey, COUNT(*) AS n_events,
       COUNT(DISTINCT p.user_id) AS n_users
FROM points p JOIN centers c
  ON (p.lat - c.c_lat) * (p.lat - c.c_lat)
   + (p.lon - c.c_lon) * (p.lon - c.c_lon) <= 0.25
GROUP BY c.s_suppkey
ORDER BY c.s_suppkey
""",
    doc="spatial radius join: events (deterministic synthetic "
    "coordinates, exact quarter-degree grid) matched to supplier "
    "'store' locations within 0.5 degrees, counted per store. Spark "
    "side is the grid-cell bucketized equi-join "
    "(operators/geo.py:radius_join); the oracle is the naive "
    "all-pairs distance join — same result, different plan. "
    "Quarter-degree coordinates are exact binary doubles, so the "
    "boundary comparison is bit-identical across engines.",
)
def g_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.geo import radius_join

    e = load_table(spark, sf_dir, "events")
    s = load_table(spark, sf_dir, "supplier")
    points = e.select(
        "event_id",
        "user_id",
        ((F.col("user_id") * 79 % 144).cast("double") / 4.0 - 18.0).alias("lat"),
        ((F.col("user_id") * 131 % 288).cast("double") / 4.0 - 36.0).alias("lon"),
    )
    centers = s.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 37 % 144).cast("double") / 4.0 - 18.0).alias("c_lat"),
        ((F.col("s_suppkey") * 53 % 288).cast("double") / 4.0 - 36.0).alias("c_lon"),
    )
    return (
        radius_join(points, centers, radius_deg=0.5)
        .groupBy("s_suppkey")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout values — operators.scale.zvalue/scale_to_bits,
# oracle-checked. The interleave SQL is generated from the same
# (bits, ncols) parameters the Spark Column expression uses, so both
# engines evaluate an identical bit-by-bit formula.
# ---------------------------------------------------------------------------

_Z_BITS = 12


def _z_sql_expr(vars_: list[str], bits: int) -> str:
    terms = [
        f"((({v} >> {i}) & 1) << {i * len(vars_) + j})"
        for j, v in enumerate(vars_)
        for i in range(bits)
    ]
    return " | ".join(terms)


@register(
    "o_zorder_values",
    oracle=f"""
WITH st AS (
  SELECT CAST(min(o_custkey) AS DOUBLE) AS lo_a, CAST(max(o_custkey) AS DOUBLE) AS hi_a,
         CAST(min(o_totalprice) AS DOUBLE) AS lo_b, CAST(max(o_totalprice) AS DOUBLE) AS hi_b
  FROM orders
), scaled AS (
  SELECT o_orderkey,
         CAST(least(greatest(floor((CAST(o_custkey AS DOUBLE) - lo_a) / (hi_a - lo_a) * 4095), 0), 4095) AS BIGINT) AS za,
         CAST(least(greatest(floor((CAST(o_totalprice AS DOUBLE) - lo_b) / (hi_b - lo_b) * 4095), 0), 4095) AS BIGINT) AS zb
  FROM orders CROSS JOIN st
)
SELECT o_orderkey, {_z_sql_expr(['za', 'zb'], _Z_BITS)} AS zval
FROM scaled
ORDER BY zval DESC, o_orderkey
LIMIT 50
""",
    doc="Morton z-values over (custkey, totalprice) — scale.zvalue's math",
)
def o_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.scale import scale_to_bits, zvalue

    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").cast("double").alias("lo_a"),
        F.max("o_custkey").cast("double").alias("hi_a"),
        F.min("o_totalprice").cast("double").alias("lo_b"),
        F.max("o_totalprice").cast("double").alias("hi_b"),
    )
    z = zvalue(
        [
            scale_to_bits(
                F.col("o_custkey").cast("double"),
                F.col("lo_a"), F.col("hi_a"), _Z_BITS,
            ),
            scale_to_bits(
                F.col("o_totalprice").cast("double"),
                F.col("lo_b"), F.col("hi_b"), _Z_BITS,
            ),
        ],
        _Z_BITS,
    )
    return (
        o.crossJoin(F.broadcast(stats))  # 1-row stats frame
        .select("o_orderkey", z.alias("zval"))
        .orderBy(F.desc("zval"), "o_orderkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade network (operators/graph.py). The
# oracle UNROLLS the same fixed iterations with the same per-iteration
# rounding, so an iterative driver-loop algorithm still gets a hard
# cross-engine hash check — the discipline that keeps d_dup_components
# oracled applies to float-valued iteration too.
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_DAMPING = 0.85
_PR_DEC = 8


def _pagerank_oracle() -> str:
    # mirrors operators.graph.pagerank's integer-scaled sums: weights
    # quantized to 1e-6 (wi BIGINT), per-edge contribution terms to
    # 1e-12 (ci BIGINT) — every distributed SUM runs over integers so
    # engine/partition merge order cannot move an ulp
    its = []
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""r{i} AS (
  SELECT n.node,
         {stable_round_sql(
             f"{1.0 - _PR_DAMPING!r} / (SELECT n FROM nn)"
             f" + {_PR_DAMPING!r} * (CAST(coalesce(s.ci, 0) AS DOUBLE)"
             " / 1000000000000.0)", _PR_DEC)} AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(round(r.rank * CAST(e.wi AS DOUBLE)
                                / CAST(o.out_wi AS DOUBLE)
                                * 1000000000000.0) AS BIGINT)) AS BIGINT) AS ci
    FROM r{i - 1} r
    JOIN out_w o ON r.node = o.src
    JOIN edges e ON r.node = e.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)""")
    unrolled = ",\n".join(its)
    return f"""
WITH edges AS (
  SELECT cn.n_name AS src, sn.n_name AS dst,
         CAST(round(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                         AS DOUBLE) * 1000000) AS BIGINT) AS wi
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY cn.n_name, sn.n_name
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
  )
), nn AS (SELECT COUNT(*) AS n FROM nodes),
out_w AS (SELECT src, CAST(SUM(wi) AS BIGINT) AS out_wi FROM edges GROUP BY src),
r0 AS (
  SELECT node,
         {stable_round_sql("1.0 / (SELECT n FROM nn)", _PR_DEC)} AS rank
  FROM nodes
),
{unrolled}
SELECT node AS nation, rank
FROM r{_PR_ITERS}
ORDER BY rank DESC, node
"""


@register(
    "g_pagerank_nations",
    oracle=_pagerank_oracle(),
    doc="fixed-iteration PageRank on the customer→supplier nation trade graph",
)
def g_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.functions.scalar import money_cents
    from data_engineering_hs_spark.operators.graph import pagerank

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("dst")
    )
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy("src", "dst")
        .agg(F.sum(money_cents("l_extendedprice")).alias("cents"))
        .select("src", "dst", F.col("cents").cast("double").alias("w"))
    )
    ranks = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        weight_col="w",
        round_decimals=_PR_DEC,
    )
    return ranks.select(F.col("node").alias("nation"), "rank").orderBy(
        F.desc("rank"), "nation"
    )


# ---------------------------------------------------------------------------
# k-core decomposition: iteratively peel nodes of degree < k until a
# fixed point. Each Spark round is one semi-join + one degree groupBy
# on the (checkpointed) edge list — the same shuffle shape as
# dup_groups — and the driver probes only a scalar convergence count.
# The oracle UNROLLS the peel (peeling is idempotent at the fixed
# point, so unrolling MORE rounds than convergence needs is harmless
# — 16 vs the 11 measured at sf0.01), the same cross-engine strategy
# as the PageRank oracle.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_EDGE_MIN = 2  # co-purchase threshold: ordered together >= 2x
_KCORE_ORACLE_ROUNDS = 16


# ONE copy of the co-purchase graph, shared by g_kcore and
# g_label_propagation (the doc contract "same edges" is enforced by
# construction, not by keeping two copies in lockstep)
_COPURCHASE_CTES = """items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {edge_min}
), und AS MATERIALIZED (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) co-purchase part pairs ordered together >= edge_min
    times — the Spark twin of _COPURCHASE_CTES."""
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _KCORE_EDGE_MIN)
        .select("u", "v")
    )


def _kcore_oracle() -> str:
    rounds = []
    prev = "n0"
    for i in range(1, _KCORE_ORACLE_ROUNDS + 1):
        # MATERIALIZED is load-bearing: each round references the
        # previous one twice, so default CTE inlining would expand
        # the plan 2^rounds-fold (and re-open the parquet scan
        # thousands of times)
        rounds.append(
            f"n{i} AS MATERIALIZED (\n"
            f"  SELECT u.a AS node FROM und u\n"
            f"  JOIN {prev} x ON u.a = x.node\n"
            f"  JOIN {prev} y ON u.b = y.node\n"
            f"  GROUP BY u.a HAVING COUNT(*) >= {_KCORE_K}\n"
            f")"
        )
        prev = f"n{i}"
    ctes = _COPURCHASE_CTES.format(edge_min=_KCORE_EDGE_MIN)
    return f"""
WITH {ctes}, n0 AS MATERIALIZED (
  SELECT DISTINCT a AS node FROM und
), {", ".join(rounds)}
SELECT u.a AS node, CAST(COUNT(*) AS BIGINT) AS core_degree,
       TRUE AS converged
FROM und u
JOIN {prev} x ON u.a = x.node
JOIN {prev} y ON u.b = y.node
GROUP BY u.a
ORDER BY node
"""


@register(
    "g_kcore",
    oracle=_kcore_oracle(),
    doc=f"{_KCORE_K}-core of the co-purchase graph (parts ordered "
    "together >= 2x): iterative peel of degree-<k nodes to the "
    "maximal subgraph where everyone keeps k neighbors — the "
    "standard dense-region extractor; emits each core member with "
    "its within-core degree and the convergence flag",
)
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    und = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=True)  # re-joined every peel round
    )
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    n_nodes = nodes.count()  # scalar convergence probe (sanctioned)
    converged = False
    rounds_used = 0
    for rounds_used in range(1, 31):
        survivors = (
            und.join(nodes.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(nodes.withColumnRenamed("node", "b"), "b", "left_semi")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=True)
        )
        n_next = survivors.count()
        nodes = survivors
        if n_next == n_nodes:
            converged = True
            break
        n_nodes = n_next
    # the oracle unrolls EXACTLY _KCORE_ORACLE_ROUNDS peel rounds and
    # hard-codes converged=TRUE; a deeper graph (testdata regen) would
    # otherwise surface as a confusing hash mismatch — fail loudly
    # with the remedy instead (measured margin: 11 rounds at sf0.01)
    if not converged or rounds_used > _KCORE_ORACLE_ROUNDS:
        raise RuntimeError(
            f"k-core peel used {rounds_used} rounds "
            f"(converged={converged}) but the oracle unrolls only "
            f"{_KCORE_ORACLE_ROUNDS}; raise _KCORE_ORACLE_ROUNDS"
        )
    return (
        und.join(nodes.withColumnRenamed("node", "a"), "a", "left_semi")
        .join(nodes.withColumnRenamed("node", "b"), "b", "left_semi")
        .groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("core_degree"))
        .select("node", "core_degree", F.lit(converged).alias("converged"))
        .orderBy("node")
    )


_LPA_ITERS = 4


def _lpa_oracle() -> str:
    rounds = []
    prev = "lbl0"
    for i in range(1, _LPA_ITERS + 1):
        rounds.append(
            f"lbl{i} AS MATERIALIZED (\n"
            f"  SELECT a AS node, label FROM (\n"
            f"    SELECT u.a, l.label,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY u.a\n"
            f"             ORDER BY COUNT(*) DESC, l.label) AS rn\n"
            f"    FROM und u JOIN {prev} l ON u.b = l.node\n"
            f"    GROUP BY u.a, l.label\n"
            f"  ) WHERE rn = 1\n"
            f")"
        )
        prev = f"lbl{i}"
    ctes = _COPURCHASE_CTES.format(edge_min=_KCORE_EDGE_MIN)
    return f"""
WITH {ctes}, lbl0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS label FROM und
), {", ".join(rounds)}
SELECT node, CAST(label AS BIGINT) AS community
FROM {prev} ORDER BY node
"""


@register(
    "g_label_propagation",
    oracle=_lpa_oracle(),
    doc=f"community detection by {_LPA_ITERS}-round deterministic "
    "synchronous label propagation on the co-purchase graph (same "
    "edges as g_kcore): every node simultaneously adopts its "
    "neighborhood's majority label, ties to the smallest — fixed "
    "rounds + total tie order make the result a pure function of "
    "the graph, unrolled round-for-round in the oracle",
)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir)
    out = label_propagation(
        edges, iterations=_LPA_ITERS, src_col="u", dst_col="v"
    )
    return out.orderBy("node")


@register(
    "g_grid_rollup",
    # Tile-pyramid aggregation (the map-server / hypertable shape):
    # one scan produces event counts at three zoom levels of a
    # quadtree grid. All cell math is INTEGER — coordinates stay in
    # quarter-degree units (lat_q 0..143, lon_q 0..287) and the cell
    # index is (lat_q * 2^z) div 144 — so the rollup hashes
    # identically across engines; no float boundary can flip a cell.
    oracle="""
WITH pts AS (
  SELECT event_id, user_id,
         (user_id * 79) % 144 AS lat_q,
         (user_id * 131) % 288 AS lon_q
  FROM events
), z AS (SELECT UNNEST([2, 4, 6]) AS zoom)
SELECT zoom,
       CAST(((lat_q * (1 << zoom)) // 144) * (1 << zoom)
            + ((lon_q * (1 << zoom)) // 288) AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM pts CROSS JOIN z
GROUP BY zoom, cell
ORDER BY zoom, cell
""",
    doc="multi-resolution spatial grid rollup: events aggregated into "
    "quadtree cells at zoom 2/4/6 in one scan (tile-pyramid "
    "preaggregation) — exact integer cell assignment from the same "
    "deterministic synthetic coordinates as g_radius_join",
)
def g_grid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        "user_id",
        (F.col("user_id") * 79 % 144).alias("lat_q"),
        (F.col("user_id") * 131 % 288).alias("lon_q"),
    )
    zoomed = pts.select(
        "*", F.explode(F.array(F.lit(2), F.lit(4), F.lit(6))).alias("zoom")
    )
    cell = F.expr(
        "CAST(((lat_q * shiftleft(1, zoom)) div 144) * shiftleft(1, zoom)"
        " + ((lon_q * shiftleft(1, zoom)) div 288) AS BIGINT)"
    )
    return (
        zoomed.select("zoom", cell.alias("cell"), "event_id", "user_id")
        .groupBy("zoom", "cell")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("zoom", "cell")
    )
