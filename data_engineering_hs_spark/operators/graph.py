"""Iterative graph analytics on DataFrames: PageRank.

Companion to operators.dedup.dup_groups (min-label connected
components): both are driver-side loops over pure DataFrame steps, the
Pregel-on-Spark shape. Each PageRank iteration is

    contribs = ranks ⋈ out_degree ⋈ edges  →  groupBy(dst).sum
    rank'    = (1-d)/N + d · contribs

i.e. one equi-join + one aggregation per iteration, both shuffling on
the node key — the standard distributed formulation (GraphX's
staticPageRank does exactly this per superstep). Ranks are ROUNDED to
a fixed number of decimals after every iteration: that makes the
fixed-iteration result bit-reproducible across engines (the DuckDB
oracle unrolls the same iterations with the same rounding), across
partitionings, and across AQE re-plans — the same determinism
discipline as money-cents aggregation.

At scale: ranks/degrees are node-sized (≪ edges) and broadcast when
small; the edges table is the only big operand and is never
re-shuffled if pre-partitioned by src. The loop persist()s ranks
per iteration, co-partitioned on the node key so the next join
reuses the edge cache's partitioning, and cuts the lineage with a
localCheckpoint every _LINEAGE_CUT_EVERY (5) rounds, releasing that
window's rank caches — without the cut, iteration k replans k joins
deep (same lesson as operators.dedup.dup_groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.scalar import stable_round

# Iterative loops cut lineage every N rounds (see pagerank's loop
# comment): between cuts, persisted frames keep their partitioning so
# per-round joins reuse the one-time edge co-partitioning; at each cut
# the plan is truncated so analysis/cache-matching stays O(1) per
# round instead of growing with the round number.
_LINEAGE_CUT_EVERY = 5


def _cut_lineage(frame: DataFrame, window: list[DataFrame]) -> DataFrame:
    """Eagerly checkpoint `frame`, then release the persisted frames of
    the lineage window it ends: the checkpoint now holds their result
    and nothing later reads them, so N rounds hold at most one
    window's caches instead of N."""
    cut = frame.localCheckpoint(eager=True)
    for f in window:
        f.unpersist()
    window.clear()
    return cut


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    round_decimals: int = 10,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over an edge list.

    Nodes = union of sources and destinations; dangling nodes (no
    out-edges) contribute nothing (their mass leaks, the simple
    variant). Returns (node, rank) after `iterations` rounds from a
    uniform start, each round rounded to `round_decimals`.

    Determinism is exact, not probabilistic: every DISTRIBUTED sum in
    the loop runs over scaled integers (weights quantized to 1e-6,
    per-edge contribution terms to 1e-12), so partition/AQE merge
    order cannot move an ulp — a double F.sum before the per-round
    rounding could still flip the rounded last decimal when a value
    lands on a rounding boundary (the same argument that makes
    key_skew_stats all-integer). The double ops that remain
    (rank·wi/out_wi, base/n) take deterministic integer operands.
    Bounds: |w|·1e6 and (per-node in-degree)·1e12 must fit in int64 —
    holds to million-node graphs with million-scale weights;
    pre-normalize weights beyond that.
    """
    _W_SCALE = 1_000_000  # weight quantum: 1e-6
    _C_SCALE = 1_000_000_000_000  # contribution quantum: 1e-12
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    # Loop invariants materialize ONCE via CO-PARTITIONED persist()
    # (r17; was localCheckpoint). Two reasons, both measured:
    #   * Spark 4.1's localCheckpoint drops BOTH the outputPartitioning
    #     and the size statistics of the checkpointed plan (probed:
    #     two checkpointed frames repartitioned on the join key still
    #     SMJ with 2 exchanges), so every iteration re-shuffled e,
    #     out_w AND ranks on src and re-shuffled nodes on node — 5
    #     exchanges per iteration, the EDGE LIST (the big side at any
    #     scale) among them. InMemoryRelation keeps its child's
    #     partitioning and real stats, so with e hash-partitioned on
    #     src once, the per-iteration joins reuse it and the only
    #     shuffle left per iteration is the contribution groupBy(node)
    #     — plan-verified 5 exchanges → 1
    #     (plans/r17/pagerank_iteration_{before,after}.txt; requires
    #     canChangeCachedPlanOutputPartitioning at its default false,
    #     see session.py), A/B at 1M edges/100k nodes ×5 iterations:
    #     −14.3%, values bit-identical (guide §2.4).
    #   * persist keeps LINEAGE (recompute on executor loss) where
    #     localCheckpoint made the query fail — the same trade
    #     documented on _bm25_scored, here resolved for free.
    # The caller's upstream edge pipeline (g_pagerank builds edges
    # from a 5-table join) still evaluates once: cache hits serve all
    # later references. The final result is materialized ONCE at the
    # end and every intermediate cache is explicitly unpersisted —
    # leaving the entries to GC measured as a pathological slowdown
    # for sessions that build many graphs (hypothesis fuzz lenses):
    # the CacheManager compares each new plan against every live
    # entry, so leaked entries make each persist() slower than the
    # last.
    cached = []
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.round(w.cast("double") * _W_SCALE).cast("long").alias("wi"),
        )
        .repartition(F.col("src"))
        .persist()
    )
    cached.append(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()  # hash-partitions on node — reused by the loop join
        .persist()
    )
    cached.append(nodes)
    out_w = (
        e.groupBy("src")  # reuses e's partitioning: no exchange
        .agg(F.sum("wi").alias("out_wi"))  # exact integer sum
        .persist()
    )
    cached.append(out_w)
    n_nodes = nodes.agg(F.count("*").alias("n")).localCheckpoint(eager=True)
    base = (1.0 - damping)

    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node",
        # string-route round (r15 sanctioned): rank is a computed
        # ratio re-rounded every iteration — tie-stable cross-engine
        # (see functions.scalar.stable_round)
        stable_round(F.lit(1.0) / F.col("n"), round_decimals).alias("rank"),
    )
    window = []  # rank caches since the last lineage cut
    for i in range(iterations):
        term = (
            F.col("rank")
            * F.col("wi").cast("double")
            / F.col("out_wi").cast("double")
        )
        contribs = (
            ranks.withColumnRenamed("node", "src")
            .join(out_w, "src")
            .join(e, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(term * _C_SCALE).cast("long").alias("ci"),
            )
            .groupBy("node")
            .agg(F.sum("ci").alias("ci"))  # exact integer sum
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                stable_round(
                    base / F.col("n")
                    + damping
                    * (
                        F.coalesce("ci", F.lit(0)).cast("double")
                        / F.lit(float(_C_SCALE))
                    ),
                    round_decimals,
                ).alias("rank"),
            )
            # persist, not checkpoint (r17): keeps the node-key
            # partitioning flowing into the next iteration's src join
            # (see the invariants comment above). Each iteration's
            # frame is referenced once by the next, so recompute
            # amplification is impossible.
            .persist()
        )
        window.append(ranks)
        # Periodic LINEAGE CUT: persist does not truncate the logical
        # plan, and at 20+ iterations analysis + cache-matching over
        # the ever-deeper tree dominates wall time (measured: the
        # 20-iteration unit test went from ~10 s to a hang before this
        # cut; guide §7.3 "very large plans spend minutes in
        # planning"). Every _LINEAGE_CUT_EVERY rounds the frame is
        # checkpointed — partitioning is lost ONCE there (one extra
        # node-sized exchange next round, the edge cache stays
        # co-partitioned) and the plan depth stays bounded.
        if (i + 1) % _LINEAGE_CUT_EVERY == 0 and (i + 1) < iterations:
            ranks = _cut_lineage(ranks, window)
    # Materialize once (same eager posture the old per-iteration
    # checkpoints had), then release every remaining cache — the
    # result frame stands alone and repeated calls leak nothing.
    final = ranks.localCheckpoint(eager=True)
    for frame in cached + window:
        frame.unpersist()
    return final


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al.
    2007) over an undirected edge list — community detection as
    repeated neighborhood majority vote.

    DETERMINISM is the design constraint (classic LPA is famously
    order-dependent): every node starts labeled with its own id, and
    each round every node simultaneously adopts the most frequent
    label among its NEIGHBORS with ties broken by smallest label.
    Synchronous update + total tie order makes the result a pure
    function of (graph, iterations) — reproducible across engines,
    partitionings, and AQE re-plans, which is what lets an unrolled
    SQL oracle hash-match it. Fixed rounds, no convergence probe:
    synchronous LPA can oscillate on bipartite structures, so a
    convergence loop would not terminate deterministically; R rounds
    is the contract on both sides.

    Per round: one join of the (node-sized) label frame onto the
    edge list + one (node, label) count + one per-node argmax window
    — two shuffles on the node key, same budget as a dup_groups
    round. Labels materialize per round via a co-partitioned persist,
    with a lineage cut every _LINEAGE_CUT_EVERY rounds. Isolated
    nodes (no edges) are not part of the graph and don't appear in
    the output.

    Returns (node, community) — community is the surviving label.
    """
    # CO-PARTITIONED persist, not localCheckpoint (r17, same finding
    # as pagerank above: Spark 4.1 checkpoints drop partitioning and
    # stats). und is hash-partitioned on the join side `b` once; each
    # round's label frame comes out of the window keyed on a (renamed
    # b for the join), so the per-round join re-shuffles NEITHER side.
    # The explicit repartition("a") below the groupBy makes the
    # (a, label) aggregation AND the per-node argmax window share ONE
    # exchange — hashpartitioning(a) satisfies both clusterings, while
    # the planner's default exchange on (a, label) satisfied only the
    # aggregate and the window added a second. Per round: 3 exchanges
    # → 1 (plan-verified); A/B at 1M edges/100k nodes ×4 rounds:
    # −29.5% on the final shape, labels bit-identical.
    cached = []
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(F.col("b"))
        .persist()
    )
    cached.append(und)
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(F.desc("cnt"), F.asc("label"))
    window = []  # label caches since the last lineage cut
    for i in range(iterations):
        labels = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .repartition(F.col("a"))
            .groupBy("a", "label")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("a").alias("node"), "label")
            .persist()
        )
        window.append(labels)
        # periodic lineage cut — same planning-time bound as pagerank
        if (i + 1) % _LINEAGE_CUT_EVERY == 0 and (i + 1) < iterations:
            labels = _cut_lineage(labels, window)
    # Materialize once, then release the remaining caches (same leak
    # rationale as pagerank above).
    final = labels.select(
        "node", F.col("label").alias("community")
    ).localCheckpoint(eager=True)
    for frame in cached + window:
        frame.unpersist()
    return final
