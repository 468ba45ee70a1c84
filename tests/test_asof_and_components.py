"""Unit tests for the as-of join operator and connected components
over dup pairs."""

from __future__ import annotations

import pytest

from data_engineering_hs_spark.operators.asof import asof_join
from data_engineering_hs_spark.operators.dedup import dup_groups


def _fixture(spark):
    trades = spark.createDataFrame(
        [
            ("A", 10, 100),
            ("A", 25, 101),
            ("B", 5, 102),
            ("B", 50, 103),
            ("C", 7, 104),  # no quotes for C at all
        ],
        ["sym", "t", "trade_id"],
    )
    quotes = spark.createDataFrame(
        [
            ("A", 8, 99.5),
            ("A", 10, 100.0),  # tie with trade A@10 → inclusive match
            ("A", 20, 101.0),
            ("B", 6, 50.0),
            ("B", 49, 51.0),
        ],
        ["sym", "t", "px"],
    )
    return trades, quotes


EXPECTED_BACKWARD = {
    100: 100.0,  # A@10 matches quote A@10 (inclusive)
    101: 101.0,  # A@25 → quote A@20
    102: None,   # B@5 has no prior quote
    103: 51.0,   # B@50 → quote B@49
    104: None,   # C has no quotes
}


def _merge_asof_reference(left, right, on, ts, value_cols):
    """pandas.merge_asof (backward, exact matches allowed) over the
    collected frames: one record per left row with the left
    columns plus asof_<value_col>, NaN read back as None. Both sides
    share the timestamp column name `ts` and hold no null ts."""
    import pandas as pd

    lpdf = left.toPandas().sort_values(ts, kind="stable")
    rpdf = (
        right.toPandas()[[on, ts, *value_cols]]
        .rename(columns={ts: "__rts", **{c: f"asof_{c}" for c in value_cols}})
        .sort_values("__rts", kind="stable")
    )
    merged = pd.merge_asof(
        lpdf, rpdf, left_on=ts, right_on="__rts", by=on
    ).drop(columns="__rts")
    return merged.astype(object).where(merged.notna(), None).to_dict("records")


class TestAsofJoin:
    def test_window_form(self, spark):
        trades, quotes = _fixture(spark)
        out = asof_join(
            trades, quotes, on="sym", left_ts="t", right_ts="t", value_cols=["px"]
        )
        got = {r["trade_id"]: r["asof_px"] for r in out.collect()}
        assert got == EXPECTED_BACKWARD
        # all left rows survive (left-join semantics)
        assert out.count() == trades.count()

    def test_window_form_matches_merge_asof(self, spark):
        trades, quotes = _fixture(spark)
        out = asof_join(
            trades, quotes, on="sym", left_ts="t", right_ts="t", value_cols=["px"]
        )
        got = {r["trade_id"]: r["asof_px"] for r in out.collect()}
        ref = {
            r["trade_id"]: r["asof_px"]
            for r in _merge_asof_reference(trades, quotes, "sym", "t", ["px"])
        }
        assert got == ref == EXPECTED_BACKWARD

    def test_null_ts_right_rows_never_match(self, spark):
        # ascending sort puts NULLs FIRST: without the right-side
        # filter a null-ts quote sat at every window's start and
        # matched trades that had no real predecessor — diverging
        # from merge_asof (which never matches null keys).
        from pyspark.sql import types as T

        trades = spark.createDataFrame([("A", 5.0, 1)], ["sym", "t", "trade_id"])
        qschema = T.StructType(
            [
                T.StructField("sym", T.StringType()),
                T.StructField("t", T.DoubleType()),
                T.StructField("px", T.DoubleType()),
            ]
        )
        quotes = spark.createDataFrame(
            [("A", None, 9.9), ("A", 100.0, 1.0)], qschema
        )
        out = asof_join(
            trades, quotes, on="sym", left_ts="t", right_ts="t",
            value_cols=["px"],
        )
        got = {r["trade_id"]: r["asof_px"] for r in out.collect()}
        assert got == {1: None}

    def test_null_bearing_longs_above_2_53_exact(self, spark):
        # A NULL-bearing int64 value column with 2^60-range values
        # must come back bit-exact: no float64 round trip anywhere.
        big = 2**60 + 1
        left = spark.createDataFrame(
            [("k", 1), ("k", 5), ("k", 9), ("j", 4)], "k string, lts long"
        )
        right = spark.createDataFrame(
            [("k", 3, big), ("k", 7, None), ("j", 4, big - 2)],
            "k string, rts long, v long",
        )
        got = sorted(
            (r.k, r.lts, r.asof_v)
            for r in asof_join(left, right, "k", "lts", "rts", ["v"]).collect()
        )
        assert got == [
            ("j", 4, big - 2),
            ("k", 1, None),
            ("k", 5, big),
            ("k", 9, None),  # matched right row EXISTS but its v is null
        ]

    def test_null_ts_rows_and_empty_sides(self, spark):
        left = spark.createDataFrame(
            [("k", None), ("k", 5), ("solo", 1)], "k string, lts long"
        )
        right = spark.createDataFrame(
            [("k", None, 1), ("k", 4, 40)], "k string, rts long, v long"
        )
        got = sorted(
            (
                (r.k, r.lts, r.asof_v)
                for r in asof_join(
                    left, right, "k", "lts", "rts", ["v"]
                ).collect()
            ),
            key=lambda t: tuple((x is None, x or 0) for x in t),
        )
        # null-ts left passes through unmatched; null-ts right never
        # matches; a key with no right rows at all still emits
        assert got == [("k", 5, 40), ("k", None, None), ("solo", 1, None)]

    def test_output_name_collision_rejected_up_front(self, spark):
        # a left column already named asof_<value_col> would be
        # silently shadowed in the output; fail fast at plan time
        left = spark.createDataFrame(
            [("k", 1, 9)], "k string, lts long, asof_v long"
        )
        right = spark.createDataFrame([("k", 1, 5)], "k string, rts long, v long")
        with pytest.raises(ValueError, match="collide"):
            asof_join(left, right, "k", "lts", "rts", ["v"])
        # duplicated value_cols produce duplicate output names — same
        # fail-fast contract
        with pytest.raises(ValueError, match="duplicate"):
            asof_join(
                left.drop("asof_v"), right, "k", "lts", "rts", ["v", "v"]
            )


class TestDupComponents:
    def test_chain_collapses_to_one_component(self, spark):
        # chain 1-2-3-4-5 plus isolated pair 10-11: diameter 4 needs
        # several propagation rounds.
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
        )
        got = {r["doc_id"]: r["component"] for r in dup_groups(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    def test_triangle_and_star(self, spark):
        pairs = spark.createDataFrame(
            [(7, 8), (8, 9), (7, 9), (20, 21), (20, 22), (20, 23)],
            ["id_a", "id_b"],
        )
        got = {r["doc_id"]: r["component"] for r in dup_groups(pairs).collect()}
        assert {got[7], got[8], got[9]} == {7}
        assert {got[20], got[21], got[22], got[23]} == {20}

    def test_null_sided_pair_keeps_nonnull_node_drops_null(self, spark):
        # r13 pin (ADVICE r12): a null id is NOT a node. (5, null)
        # used to emit a spurious (null, null) row from dup_groups
        # while dup_groups_star emitted only (5, 5) — both forms now
        # agree: non-null side survives as a singleton, null dropped.
        from data_engineering_hs_spark.operators.dedup import dup_groups_star

        pairs = spark.createDataFrame(
            [(5, None), (None, 6), (None, None), (6, 7)],
            "id_a long, id_b long",
        )
        exp = {5: 5, 6: 6, 7: 6}
        got = {r["doc_id"]: r["component"] for r in dup_groups(pairs).collect()}
        assert got == exp
        star = {
            r["doc_id"]: r["component"]
            for r in dup_groups_star(pairs).collect()
        }
        assert star == exp

    def test_nonpositive_round_budget_raises(self, spark):
        # max_iters <= 0 skips the loop entirely; without the up-front
        # check it returned identity labels (every node its own
        # component) — the silently-wrong partition the convergence
        # RuntimeError exists to prevent
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        with pytest.raises(ValueError, match="max_iters"):
            dup_groups(pairs, max_iters=0)


class TestRangeJoin:
    def _data(self, spark):
        pts = spark.createDataFrame(
            [(1, 5), (1, 25), (1, 95), (2, 15), (3, 50)], ["k", "t"]
        )
        ivs = spark.createDataFrame(
            [(1, 0, 30, "a"), (1, 20, 40, "b"), (2, 10, 15, "c"), (9, 0, 100, "z")],
            ["k", "lo", "hi", "tag"],
        )
        return pts, ivs

    def test_matches_naive_with_key(self, spark):
        from data_engineering_hs_spark.operators.range_join import range_join
        from tests.naive_mirrors import range_join_naive

        pts, ivs = self._data(spark)
        got = {
            (r["k"], r["t"], r["tag"])
            for r in range_join(
                pts, ivs, "t", "lo", "hi", on="k", bucket_width=7
            ).collect()
        }
        exp = {
            (r["k"], r["t"], r["tag"])
            for r in range_join_naive(pts, ivs, "t", "lo", "hi", on="k").collect()
        }
        assert got == exp == {(1, 5, "a"), (1, 25, "a"), (1, 25, "b"), (2, 15, "c")}

    def test_no_key_and_bounds_inclusive(self, spark):
        from data_engineering_hs_spark.operators.range_join import range_join

        pts = spark.createDataFrame([(0,), (10,), (30,), (31,)], ["t"])
        ivs = spark.createDataFrame([(10, 30, "win")], ["lo", "hi", "tag"])
        got = sorted(
            r["t"] for r in range_join(pts, ivs, "t", "lo", "hi", bucket_width=5).collect()
        )
        assert got == [10, 30]  # inclusive both ends, 0 and 31 excluded

    def test_left_keeps_unmatched(self, spark):
        from data_engineering_hs_spark.operators.range_join import range_join

        pts, ivs = self._data(spark)
        out = range_join(pts, ivs, "t", "lo", "hi", on="k", bucket_width=7, how="left")
        rows = {(r["k"], r["t"]): r["tag"] for r in out.collect()}
        assert rows[(1, 95)] is None and rows[(3, 50)] is None
        assert rows[(2, 15)] == "c"
        # row multiplicity: matched rows appear per interval
        assert out.count() == 4 + 2


class TestStarComponents:
    """dup_groups_star (large-star/small-star) must agree with
    min-label propagation everywhere, and converge on chain graphs
    whose diameter exceeds any sane propagation round cap."""

    def _star(self, spark, edges, **kw):
        from data_engineering_hs_spark.operators.dedup import dup_groups_star

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r.doc_id: r.component for r in dup_groups_star(df, **kw).collect()
        }

    def test_two_components(self, spark):
        got = self._star(spark, [(1, 2), (2, 3), (10, 11)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_long_path_converges_in_log_rounds(self, spark):
        n = 200
        got = self._star(spark, [(i, i + 1) for i in range(n)], max_iters=12)
        assert set(got.values()) == {0}
        assert len(got) == n + 1

    def test_parity_with_propagation_on_random_graphs(self, spark):
        import random

        from data_engineering_hs_spark.operators.dedup import dup_groups

        rng = random.Random(7)
        for _ in range(3):
            edges = [
                (rng.randrange(40), rng.randrange(40)) for _ in range(50)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "id_a long, id_b long")
            a = {r.doc_id: r.component for r in dup_groups(df).collect()}
            b = {
                r.doc_id: r.component
                for r in __import__(
                    "data_engineering_hs_spark.operators.dedup",
                    fromlist=["dup_groups_star"],
                ).dup_groups_star(df).collect()
            }
            assert a == b


class TestAsofJoinEdges:
    def test_matched_row_is_one_row_not_a_mix(self, spark):
        # right rows: (ts=10, px=100, size=NULL), (ts=20, px=NULL,
        # size=5). The as-of match at ts=30 is the ts=20 ROW — px must
        # be NULL, not back-filled from ts=10 (a row that never
        # existed). merge_asof semantics, pinned against a local
        # pandas.merge_asof reference.
        left = spark.createDataFrame([("A", 30, 1)], ["sym", "t", "lid"])
        right = spark.createDataFrame(
            [("A", 10, 100.0, None), ("A", 20, None, 5)],
            "sym string, t long, px double, size int",
        )
        got = asof_join(
            left, right, "sym", "t", "t", ["px", "size"]
        ).collect()[0]
        assert got["asof_px"] is None and got["asof_size"] == 5
        (ref,) = _merge_asof_reference(left, right, "sym", "t", ["px", "size"])
        assert ref["asof_px"] is None and ref["asof_size"] == 5

    def test_ts_tiebreak_outside_value_cols(self, spark):
        left = spark.createDataFrame([("A", 10, 1)], ["sym", "t", "lid"])
        right = spark.createDataFrame(
            [("A", 10, 1.0, 2), ("A", 10, 2.0, 1)],
            "sym string, t long, px double, qid int",
        )
        got = asof_join(
            left, right, "sym", "t", "t", ["px"], ts_tiebreak="qid"
        ).collect()[0]
        # highest qid sorts last in the carry-forward -> wins
        assert got["asof_px"] == 1.0


class TestRangeJoinNullColumns:
    def test_left_join_does_not_duplicate_null_carrying_matches(self, spark):
        from data_engineering_hs_spark.operators.range_join import range_join

        points = spark.createDataFrame(
            [(1, 15, None), (1, 99, "x")],
            "k int, t long, note string",
        )
        intervals = spark.createDataFrame(
            [(1, 10, 20, "w")], "k int, lo long, hi long, tag string"
        )
        out = range_join(
            points, intervals, "t", "lo", "hi", on="k", how="left"
        )
        rows = sorted((r["t"], r["tag"]) for r in out.collect())
        # matched null-note row appears ONCE (tagged), unmatched once
        assert rows == [(15, "w"), (99, None)]
