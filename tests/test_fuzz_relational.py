"""Property-based cross-engine fuzz: hypothesis generates micro-tables
(with NULLs, duplicates, empty groups), and a battery of SQL templates
runs on BOTH Spark and DuckDB with canonical-compare — a broader
semantics net than the fixed-corpus oracle queries."""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from tests.oracle_harness import _canon_df

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("g", T.IntegerType()),
        T.StructField("v", T.LongType()),
    ]
)

rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
    ),
    min_size=0,
    max_size=25,
)

TEMPLATES = [
    "SELECT k, COUNT(*) AS n, COUNT(v) AS nv, CAST(SUM(v) AS BIGINT) AS sv FROM t GROUP BY k",
    "SELECT k, g, COUNT(DISTINCT v) AS ndv FROM t GROUP BY k, g",
    "SELECT DISTINCT k, g FROM t",
    "SELECT k, v FROM t WHERE v > 0 AND k IS NOT NULL",
    """SELECT a.k AS k, a.v AS av, b.v AS bv
       FROM t a JOIN t b ON a.k = b.k AND a.g = b.g""",
    """SELECT k, CAST(SUM(v) AS BIGINT) AS sv FROM t GROUP BY k
       HAVING COUNT(*) >= 2""",
    """SELECT k, g, v FROM t
       ORDER BY k ASC NULLS FIRST, g ASC NULLS FIRST, v ASC NULLS FIRST
       LIMIT 5""",
    "SELECT COALESCE(k, 'missing') AS k2, COUNT(*) AS n FROM t GROUP BY COALESCE(k, 'missing')",
    """SELECT k, g, v,
       ROW_NUMBER() OVER (PARTITION BY k
                          ORDER BY g ASC NULLS FIRST, v ASC NULLS FIRST) AS rn
       FROM t""",
    "SELECT k, v, CAST(SUM(v) OVER (PARTITION BY k) AS BIGINT) AS s FROM t",
    # round-6 surface: ntile, bounded lag arithmetic, levenshtein
    """SELECT k, g, v,
       NTILE(3) OVER (PARTITION BY k
                      ORDER BY g ASC NULLS FIRST, v ASC NULLS FIRST) AS b
       FROM t""",
    """SELECT k, g, v,
       COALESCE(LAG(v, 2) OVER (PARTITION BY k
                 ORDER BY g ASC NULLS FIRST, v ASC NULLS FIRST), 0) AS l2
       FROM t""",
    """SELECT a.k AS k, levenshtein(a.k, b.k) AS d
       FROM t a JOIN t b ON a.g = b.g
       WHERE a.k IS NOT NULL AND b.k IS NOT NULL""",
]


class TestRelationalFuzz:
    @given(data=rows)
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_templates_agree(self, spark, data, tmp_path_factory):
        # Both engines read the SAME typed parquet — registering a
        # pandas frame would degrade nullable ints to float64 and
        # compare the degradation, not the engines.
        p = str(tmp_path_factory.mktemp("fuzz") / "t.parquet")
        sdf = spark.createDataFrame(data, SCHEMA)
        sdf.coalesce(1).write.parquet(p)
        spark.read.parquet(p).createOrReplaceTempView("t")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW t AS SELECT * FROM '{p}/*.parquet'")
        for sql in TEMPLATES:
            s_cols, s_rows = _canon_df(spark.sql(sql).toPandas())
            o_cols, o_rows = _canon_df(con.execute(sql).df())
            assert s_cols == o_cols, (sql, s_cols, o_cols)
            if "LIMIT" in sql:
                # LIMIT without total order can legitimately differ in
                # WHICH rows it returns only if ties exist beyond the
                # sort keys; our sort covers all columns → exact.
                pass
            assert s_rows == o_rows, (sql, data, s_rows[:5], o_rows[:5])
        con.close()


# ---------------------------------------------------------------------------
# Operator fuzz: bucketized range join and prefix-filtered set-sim
# must equal their naive/all-pairs baselines on random inputs.
# ---------------------------------------------------------------------------

pts_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key
        st.integers(min_value=-50, max_value=50),  # point
    ),
    min_size=0,
    max_size=20,
)
ivs_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key
        st.integers(min_value=-50, max_value=50),  # lo
        st.integers(min_value=0, max_value=30),    # width
    ),
    min_size=0,
    max_size=15,
)


@given(pts=pts_rows, ivs=ivs_rows, width=st.sampled_from([1, 7, 100]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_range_join_matches_naive(spark, pts, ivs, width):
    from pyspark.sql import functions as F

    from data_engineering_hs_spark.operators.range_join import range_join
    from tests.naive_mirrors import range_join_naive

    pdf = spark.createDataFrame(
        [(k, t) for k, t in pts] or [(None, None)], "k int, t int"
    ).filter(F.col("k").isNotNull())
    idf = spark.createDataFrame(
        [(k, lo, lo + w) for k, lo, w in ivs] or [(None, None, None)],
        "k int, lo int, hi int",
    ).filter(F.col("k").isNotNull())
    got = {
        (r["k"], r["t"], r["lo"], r["hi"])
        for r in range_join(pdf, idf, "t", "lo", "hi", on="k", bucket_width=width).collect()
    }
    exp = {
        (r["k"], r["t"], r["lo"], r["hi"])
        for r in range_join_naive(pdf, idf, "t", "lo", "hi", on="k").collect()
    }
    assert got == exp


doc_rows = st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
    min_size=0,
    max_size=10,
)


@given(docs=doc_rows, t=st.sampled_from([0.3, 0.45, 0.5, 0.55, 0.8, 1.0]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_setsim_complete_vs_all_pairs(spark, docs, t):
    from pyspark.sql import functions as F

    from data_engineering_hs_spark.operators.dedup import set_similarity_join

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows or [(0, "")], ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in set_similarity_join(df, "text", "doc_id", threshold=t).collect()
    }
    sets = {i: set(w.split()) for i, w in rows if w.strip()}
    exp = set()
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= t:
                exp.add((a, b))
    assert got == exp


# ---------------------------------------------------------------------------
# CDC fuzz: snapshot_diff → apply_changeset must reproduce the target
# snapshot on arbitrary keyed tables with NULLs; the diff itself must
# never contain an unchanged row.
# ---------------------------------------------------------------------------

cdc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),  # key (unique-ified below)
        st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    ),
    min_size=0,
    max_size=12,
)

CDC_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("a", T.StringType()),
        T.StructField("b", T.IntegerType()),
    ]
)


def _uniq_by_key(rows_in):
    seen = {}
    for r in rows_in:
        seen[r[0]] = r
    return list(seen.values())


class TestCdcFuzz:
    @given(old_rows=cdc_rows, new_rows=cdc_rows)
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_diff_apply_round_trip(self, spark, old_rows, new_rows):
        from data_engineering_hs_spark.operators import cdc

        old = spark.createDataFrame(_uniq_by_key(old_rows), CDC_SCHEMA)
        new = spark.createDataFrame(_uniq_by_key(new_rows), CDC_SCHEMA)
        diff = cdc.snapshot_diff(old, new, keys=["k"]).cache()
        got = diff.collect()
        # no unchanged rows may leak into the changeset
        old_map = {r.k: (r.a, r.b) for r in old.collect()}
        new_map = {r.k: (r.a, r.b) for r in new.collect()}
        for r in got:
            if r.op == "insert":
                assert r.k in new_map and r.k not in old_map
            elif r.op == "delete":
                assert r.k in old_map and r.k not in new_map
            else:
                assert old_map[r.k] != new_map[r.k]
        merged = cdc.apply_changeset(old, diff, keys=["k"])
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, new.collect())
        )
        diff.unpersist()


asof_left_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                      # key
        st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),  # ts
    ),
    min_size=0,
    max_size=15,
)
asof_right_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                      # key
        st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),  # ts
    ),
    min_size=0,
    max_size=15,
)


@given(lrows=asof_left_rows, rrows=asof_right_rows)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_asof_window_and_naive_agree(spark, lrows, rrows):
    # Parity over random keys/timestamps/nulls: the window form and a
    # Python naive reference must agree exactly — including null-ts
    # rows on both sides (left passes through unmatched, right never
    # matches; the r11 bug this fuzz would have caught). Right
    # timestamps are deduped per key so equal-ts tie-breaking
    # (engine-dependent without ts_tiebreak) can't produce spurious
    # mismatches.
    from pyspark.sql import functions as F

    from data_engineering_hs_spark.operators.asof import asof_join

    seen = set()
    right = []
    for k, t in rrows:
        if (k, t) in seen and t is not None:
            continue
        seen.add((k, t))
        right.append((k, t, (t if t is not None else 99) * 1000 + k))
    left = [(k, t) for k, t in lrows]

    ldf = spark.createDataFrame(left or [(None, None)], "k int, lts int").filter(
        F.col("k").isNotNull()
    )
    rdf = spark.createDataFrame(
        right or [(None, None, None)], "k int, rts int, v long"
    ).filter(F.col("k").isNotNull())

    naive = []
    for k, t in left:
        if t is None:
            naive.append((k, t, None))
            continue
        preds = [(rt, v) for rk, rt, v in right if rk == k and rt is not None and rt <= t]
        naive.append((k, t, max(preds)[1] if preds else None))

    nkey = lambda t: tuple((x is None, 0 if x is None else x) for x in t)
    win = sorted(
        ((r["k"], r["lts"], r["asof_v"])
         for r in asof_join(ldf, rdf, "k", "lts", "rts", ["v"]).collect()),
        key=nkey,
    )
    assert win == sorted(naive, key=nkey)


scd2_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                      # key
        st.integers(min_value=0, max_value=12),                     # ts
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # attr
    ),
    min_size=0,
    max_size=15,
)


@given(events=scd2_events)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_scd2_matches_naive_collapse(spark, events):
    # SCD2 parity against a Python naive collapse over random events
    # with duplicate timestamps (resolved by a unique seq tiebreak)
    # and NULL attribute values (the eqNullSafe change-detection path):
    # intervals, versions, open-interval flags must all agree.
    from pyspark.sql import functions as F

    from data_engineering_hs_spark.operators.cdc import scd2_history

    rows = [(k, t, i, a) for i, (k, t, a) in enumerate(events)]
    df = spark.createDataFrame(
        rows or [(None, None, None, None)],
        "k int, ts int, seq int, attr int",
    ).filter(F.col("k").isNotNull())

    # naive: per key, order by (ts, seq), collapse consecutive equal
    # attrs into regimes
    naive = []
    bykey = {}
    for k, t, i, a in rows:
        bykey.setdefault(k, []).append((t, i, a))
    for k, evs in bykey.items():
        evs.sort()
        regimes = []
        for t, _i, a in evs:
            if not regimes or regimes[-1][1] != a:
                regimes.append((t, a))
        for v, (t, a) in enumerate(regimes, start=1):
            nxt = regimes[v][0] if v < len(regimes) else None
            naive.append((k, a, t, nxt, v, nxt is None))

    got = sorted(
        (
            (r["k"], r["attr"], r["valid_from"], r["valid_to"],
             r["version"], r["is_current"])
            for r in scd2_history(
                df, "k", ["attr"], "ts", tiebreak_cols=["seq"]
            ).collect()
        ),
        key=repr,
    )
    assert got == sorted(naive, key=repr)


ts_series = st.lists(
    st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # value
    min_size=0,
    max_size=12,
)


@given(vals_a=ts_series, vals_b=ts_series)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_interpolate_matches_naive(spark, vals_a, vals_b):
    # gap-fill parity against naive Python over random null patterns —
    # all-null series, null runs at both edges, single observations
    from pyspark.sql import functions as F

    from data_engineering_hs_spark.operators.timeseries import (
        interpolate_linear,
    )

    rows = [("a", i, None if v is None else float(v)) for i, v in enumerate(vals_a)]
    rows += [("b", i, None if v is None else float(v)) for i, v in enumerate(vals_b)]
    df = spark.createDataFrame(
        rows or [(None, None, None)], "k string, ts int, v double"
    ).filter(F.col("k").isNotNull())

    def naive_interp(vals):
        obs = [(i, v) for i, v in enumerate(vals) if v is not None]
        out = []
        for i, v in enumerate(vals):
            if v is not None:
                out.append(v)
                continue
            prev = [(j, w) for j, w in obs if j < i]
            nxt = [(j, w) for j, w in obs if j > i]
            if not prev and not nxt:
                out.append(None)
            elif not prev:
                out.append(nxt[0][1])
            elif not nxt:
                out.append(prev[-1][1])
            else:
                (j0, w0), (j1, w1) = prev[-1], nxt[0]
                out.append(w0 + (w1 - w0) * (i - j0) / (j1 - j0))
        return out

    exp_int = {("a", i): v for i, v in enumerate(naive_interp(vals_a))}
    exp_int.update({("b", i): v for i, v in enumerate(naive_interp(vals_b))})
    got_int = {
        (r["k"], r["ts"]): r["value_interp"]
        for r in interpolate_linear(df, "ts", "v", ["k"]).collect()
    }
    assert set(got_int) == set(exp_int)
    for key in exp_int:
        g, e = got_int[key], exp_int[key]
        assert (g is None) == (e is None), key
        if e is not None:
            assert abs(g - e) < 1e-9, (key, g, e)


geo_pts = st.lists(
    st.tuples(
        st.integers(min_value=-40, max_value=40),  # lat quarter-degrees
        st.integers(min_value=-40, max_value=40),  # lon quarter-degrees
    ),
    min_size=0,
    max_size=12,
)


@given(pts=geo_pts, ctrs=geo_pts, r4=st.sampled_from([1, 2, 3, 8]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_radius_join_matches_naive(spark, pts, ctrs, r4):
    # grid-bucketized spatial join vs the all-pairs distance join over
    # random quarter-degree coordinates (exact binary doubles) — the
    # risky parts are floor() cell math on NEGATIVE coords and points
    # sitting exactly on cell boundaries / the radius circle
    from data_engineering_hs_spark.operators.geo import radius_join
    from tests.naive_mirrors import radius_join_naive

    radius = r4 / 4.0
    pdf = spark.createDataFrame(
        [(i, a / 4.0, b / 4.0) for i, (a, b) in enumerate(pts)]
        or [(None, None, None)],
        "pid int, lat double, lon double",
    ).where("pid is not null")
    cdf = spark.createDataFrame(
        [(i, a / 4.0, b / 4.0) for i, (a, b) in enumerate(ctrs)]
        or [(None, None, None)],
        "cid int, c_lat double, c_lon double",
    ).where("cid is not null")
    got = {
        (r["pid"], r["cid"])
        for r in radius_join(pdf, cdf, radius_deg=radius).collect()
    }
    exp = {
        (r["pid"], r["cid"])
        for r in radius_join_naive(pdf, cdf, radius_deg=radius).collect()
    }
    assert got == exp
