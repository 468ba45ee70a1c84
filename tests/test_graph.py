"""operators.graph.pagerank unit semantics on known graphs; the
registry query g_pagerank_nations is oracle-checked in
test_oracle_parity against an unrolled DuckDB iteration."""

from __future__ import annotations

import pytest


def _ranks(df):
    return {r.node: r.rank for r in df.collect()}


class TestPagerank:
    def test_cycle_stays_uniform(self, spark):
        from data_engineering_hs_spark.operators.graph import pagerank

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
        )
        got = _ranks(pagerank(e, iterations=10))
        # symmetric cycle: uniform is the fixed point exactly
        assert got == {"a": pytest.approx(1 / 3), "b": pytest.approx(1 / 3),
                       "c": pytest.approx(1 / 3)}

    def test_sink_hub_ranks_highest(self, spark):
        from data_engineering_hs_spark.operators.graph import pagerank

        # star into d (plus back-edges so nothing dangles)
        e = spark.createDataFrame(
            [("a", "d"), ("b", "d"), ("c", "d"), ("d", "a")],
            "src string, dst string",
        )
        got = _ranks(pagerank(e, iterations=20))
        assert got["d"] == max(got.values())
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)

    def test_weighted_edges_split_contribution(self, spark):
        from data_engineering_hs_spark.operators.graph import pagerank

        # a splits 3:1 between b and c; b/c return to a
        e = spark.createDataFrame(
            [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
            "src string, dst string, w double",
        )
        got = _ranks(pagerank(e, iterations=30, weight_col="w"))
        assert got["b"] > got["c"]
        # contribution ratio from a is exactly 3:1 each round; with
        # the same base term, (b - base) ≈ 3 * (c - base)
        base = 0.15 / 3
        assert (got["b"] - base) / (got["c"] - base) == pytest.approx(3.0, rel=1e-3)


class TestLabelPropagation:
    def test_two_triangles_with_bridge(self, spark):
        """Hand-computed 4-round trace: triangles {1,2,3} and {4,5,6}
        joined by bridge 3-4 settle to communities 1 and 3 (the
        bridge drags 4's side through label 3 before it stabilizes —
        exactly what the synchronous min-tie-break rules produce)."""
        from data_engineering_hs_spark.operators.graph import label_propagation

        e = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
            ["src", "dst"],
        )
        got = {
            r["node"]: r["community"]
            for r in label_propagation(e, iterations=4).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}

    def test_deterministic_across_runs_and_partitionings(self, spark):
        from data_engineering_hs_spark.operators.graph import label_propagation

        e = spark.createDataFrame(
            [(i, (i * 7) % 23) for i in range(60) if i != (i * 7) % 23],
            ["src", "dst"],
        )
        a = sorted(map(tuple, label_propagation(e, iterations=3).collect()))
        b = sorted(
            map(tuple, label_propagation(e.repartition(13), iterations=3).collect())
        )
        assert a == b


class TestLoopCacheRelease:
    """The loops hold at most one lineage window of per-round caches:
    each cut releases the rank/label frames it checkpointed, so the
    cache count does not grow with the iteration count."""

    def test_pagerank_releases_rank_caches_at_each_cut(self, spark, monkeypatch):
        from data_engineering_hs_spark.operators import graph

        jsc = spark.sparkContext._jsc
        e = spark.createDataFrame(
            [(i, (i * 7 + 3) % 40) for i in range(40)], "src long, dst long"
        )
        frame_cls = type(e)  # the concrete DataFrame class in use
        seen = []
        original = frame_cls.localCheckpoint

        def counting(self, *args, **kwargs):
            # entry of each checkpoint = state left by the previous one
            seen.append(jsc.getPersistentRDDs().size())
            return original(self, *args, **kwargs)

        monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
        before = jsc.getPersistentRDDs().size()
        graph.pagerank(e, iterations=12)
        # calls: the node count, the cuts after rounds 5 and 10, the
        # final result — the last entry reads the state after cut 2
        assert len(seen) == 4
        # edges, nodes, out-weights and the node count stay to the
        # end; the rest is at most one window's worth
        static = 4
        assert seen[-1] - before <= static + graph._LINEAGE_CUT_EVERY, seen
