"""Fuzz-parity lens, batch 7 (r14 verdict item): degenerate vectors
through the ANN/similarity family vs naive pure-Python mirrors.

Inputs the sf-corpus never generates: NaN/Inf components, zero
vectors, exact-duplicate points, huge-magnitude components,
single-point corpora. The lens found a REAL poisoning bug at pinning
time: a single NaN-component corpus vector ranked as the #1 neighbor
of EVERY query (NaN orders above every real double in both Spark and
DuckDB desc sorts) and was MMR's first pick with NaN relevance. The
fix extends the zero-vector contract centrally in
functions.vector.cosine_from: NON-FINITE SIMILARITY SCORES 0.0 —
a corrupt embedding can never outrank any positively-correlated
neighbor, through every composed path (brute force, IVF assignment,
LSH verify, SemDeDup, MMR). These tests pin that contract with
bit-exact naive mirrors (same left-to-right fold order as the
engine's zip_with/aggregate expressions).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

FUZZ = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

NAN = float("nan")
INF = float("inf")

component = st.sampled_from(
    [0.0, 1.0, -1.0, 0.5, 2.0, -0.25, 1e300, -1e300, NAN, INF, -INF]
)
vec3 = st.lists(component, min_size=3, max_size=3)
# corpora biased toward degenerate shapes: duplicates arise naturally
# from the small component alphabet
corpora = st.lists(vec3, min_size=1, max_size=8)


def _mirror_dot(a, b):
    # strictly left-to-right, like F.aggregate(zip_with(a,b,*), 0.0, +)
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _mirror_norm(a):
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc) if acc == acc else NAN


def _mirror_cos(a, b):
    """The engine contract: 0.0 for zero-norm products AND non-finite
    similarity (corrupt/overflowed vectors)."""
    nn = _mirror_norm(a) * _mirror_norm(b)
    if nn == 0:
        return 0.0
    c = _mirror_dot(a, b) / nn
    return c if math.isfinite(c) else 0.0


def _mk(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


# ---------------------------------------------------------------------------
# brute_force_topk vs naive ranking under the contract
# ---------------------------------------------------------------------------


@given(vecs=corpora, k=st.sampled_from([1, 3, 10]))
@FUZZ
def test_fuzz_brute_force_topk_matches_naive(spark, vecs, k):
    from data_engineering_hs_spark.operators.similarity import (
        brute_force_topk,
    )

    df = _mk(spark, vecs)
    q = df.filter("vec_id = 0")
    got = [
        (r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(df, q, k=k)
        .orderBy("query_id", "rank")
        .collect()
    ]
    sims = [
        (-_mirror_cos(vecs[0], v), i, _mirror_cos(vecs[0], v))
        for i, v in enumerate(vecs)
        if i != 0
    ]
    exp = [
        (rank, i, c)
        for rank, (_, i, c) in enumerate(sorted(sims), start=1)
    ][:k]
    assert got == exp, (vecs, k)
    # the contract's point: nothing non-finite ever reaches a rank
    assert all(math.isfinite(c) for _, _, c in got)


@pytest.mark.parametrize("strategy", ["fold", "arrow"])
def test_corrupt_vector_never_outranks_positive_neighbor(spark, strategy):
    # the pinned regression for the poisoning find (pre-fix: id 3
    # ranked #1 with cos_sim NaN for every query). Parametrized over
    # both dot strategies: the guard lives in cosine_from, DOWNSTREAM
    # of the fold/arrow dot, so a NaN einsum result must hit it too.
    from data_engineering_hs_spark.operators.similarity import (
        brute_force_topk,
    )

    df = _mk(
        spark,
        [
            [1.0, 0.0, 0.0],
            [0.9, 0.1, 0.0],
            [NAN, 1.0, 0.0],
            [INF, 0.0, 0.0],
            [0.8, 0.2, 0.0],
        ],
    )
    rows = brute_force_topk(
        df, df.filter("vec_id = 0"), k=4, dot_strategy=strategy
    ).collect()
    by_rank = {r["rank"]: (r["neighbor_id"], r["cos_sim"]) for r in rows}
    assert by_rank[1] == (1, pytest.approx(0.99388, abs=1e-4))
    assert by_rank[2][0] == 4
    # corrupt vectors score exactly 0.0 and fill the tail by id
    assert by_rank[3] == (2, 0.0) and by_rank[4] == (3, 0.0)


# ---------------------------------------------------------------------------
# mmr_select vs naive greedy mirror
# ---------------------------------------------------------------------------


@given(vecs=corpora)
@FUZZ
def test_fuzz_mmr_matches_naive(spark, vecs):
    from data_engineering_hs_spark.operators.similarity import mmr_select

    pool, k, lam = 4, 3, 0.7
    df = _mk(spark, vecs)
    got = [
        (r["pick"], r["vec_id"], r["rel"])
        for r in mmr_select(df, 0, pool=pool, k=k).orderBy("pick").collect()
    ]
    rel = {i: _mirror_cos(vecs[0], v) for i, v in enumerate(vecs) if i != 0}
    order = sorted(rel, key=lambda v: (-rel[v], v))[:pool]
    rel = {v: rel[v] for v in order}
    exp = []
    if order:
        chosen = [order[0]]
        exp = [(1, order[0], rel[order[0]])]
        for step in range(2, min(k, len(order)) + 1):
            best_score, best_id = None, None
            for v in order:
                if v in chosen:
                    continue
                worst = max(_mirror_cos(vecs[v], vecs[s]) for s in chosen)
                score = lam * rel[v] - (1.0 - lam) * worst
                if (
                    best_score is None
                    or score > best_score
                    or (score == best_score and v < best_id)
                ):
                    best_score, best_id = score, v
            chosen.append(best_id)
            exp.append((step, best_id, rel[best_id]))
    exp = [(p, v, round(r, 6)) for p, v, r in exp]
    # engine rounds HALF_UP engine-side; mirror rounding differences
    # only matter at the 6th decimal of ties — compare ids exactly,
    # rels approximately
    assert [(p, v) for p, v, _ in got] == [(p, v) for p, v, _ in exp], vecs
    for (_, _, rg), (_, _, re) in zip(got, exp):
        assert rg == pytest.approx(re, abs=1e-6), vecs


# ---------------------------------------------------------------------------
# IVF / PQ / SemDeDup degenerate-cardinality and corrupt inputs
# ---------------------------------------------------------------------------


class TestDegenerateCorpora:
    def test_ivf_zero_and_corrupt_through_assignment(self, spark):
        from pyspark.sql import functions as F

        from data_engineering_hs_spark.operators.similarity import (
            centroids,
            ivf_topk,
        )

        vecs = [
            [1.0, 0.0, 0.0],
            [0.9, 0.1, 0.0],
            [0.0, 1.0, 0.0],
            [0.1, 0.9, 0.0],
            [0.0, 0.0, 0.0],  # zero vector
            [NAN, 1.0, 0.0],  # corrupt vector
        ]
        df = _mk(spark, vecs)
        # the two clean clusters: {0, 1} and {2, 3}
        cents = centroids(
            df.filter("vec_id < 4").withColumn(
                "label", (F.col("vec_id") / 2).cast("int")
            )
        )
        got = ivf_topk(
            df, df.filter("vec_id = 0"), cents, k=5, nprobe=2
        ).collect()
        sims = {r["neighbor_id"]: r["cos_sim"] for r in got}
        # zero and corrupt corpus vectors score exactly 0 when probed
        for bad in (4, 5):
            if bad in sims:
                assert sims[bad] == 0.0
        # the real nearest neighbor wins rank 1
        top = min(got, key=lambda r: r["rank"])
        assert top["neighbor_id"] == 1
        # a zero-vector QUERY assigns deterministically and scores 0
        # against everything it probes
        zq = ivf_topk(
            df, df.filter("vec_id = 4"), cents, k=3, nprobe=2
        ).collect()
        assert all(r["cos_sim"] == 0.0 for r in zq)
        assert [r["neighbor_id"] for r in sorted(zq, key=lambda r: r["rank"])] == sorted(
            r["neighbor_id"] for r in zq
        )  # ties broken by ascending id

    def test_pq_zero_variance_codebook(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            pq_topk,
            pq_train,
        )

        # all-identical corpus → every subspace codebook collapses to
        # one repeated centroid (zero variance); train and query must
        # stay deterministic, not crash
        df = _mk(spark, [[0.25, -0.5, 1.0]] * 5)
        # pad to dim 4 for m=2 subspaces
        from pyspark.sql import functions as F

        df4 = df.select(
            "vec_id", F.concat("embedding", F.array(F.lit(2.0))).alias("embedding")
        )
        books = pq_train(df4, m=2, k=2, iters=2, dim=4)
        assert books.count() > 0
        got = pq_topk(
            df4,
            df4.filter("vec_id = 0"),
            books,
            k=3,
            shortlist=5,
            m=2,
            bits=2,
            dim=4,
        ).collect()
        # identical vectors: every neighbor ties at cos 1, ranks
        # break by ascending id
        assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2, 3]
        assert all(r["cos_sim"] == pytest.approx(1.0) for r in got)

    def test_semdedup_duplicates_and_corrupt(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            centroids,
            semdedup,
        )

        vecs = [
            [1.0, 0.0, 0.0],
            [1.0, 0.0, 0.0],  # exact duplicate of 0
            [0.0, 1.0, 0.0],
            [NAN, 1.0, 0.0],  # corrupt
        ]
        df = _mk(spark, vecs)
        # clusters {0, 1} and {2}
        cents = centroids(
            df.filter("vec_id < 3").selectExpr(
                "CAST(vec_id = 2 AS INT) AS label", "embedding"
            )
        )
        rows = {
            r["vec_id"]: r for r in semdedup(df, cents, threshold=0.95).collect()
        }
        # one of the exact duplicates is removed (pair_sim = 1): the
        # dominance rule ties on c_sim and removes the higher id
        assert rows[1]["removed"] and not rows[0]["removed"]
        # the corrupt vector scores 0 against everything — never an
        # above-threshold edge, never removed, never removes others
        assert not rows[3]["removed"]
        assert rows[3]["c_sim"] == 0.0

    def test_pq_shortlist_not_flooded_by_corrupt_vectors(self, spark):
        # second-order poisoning (r14 lens find): NaN subvectors have
        # NaN distance to every codebook entry, so the argmin gave all
        # corrupt vectors code 0 in every subspace — one shared FINITE
        # ADC score that, when it ranked well, flooded the whole
        # shortlist before the exact rerank could zero it (measured:
        # all-corrupt top-k at cos 0.0). pq_encode now excludes
        # non-finite vectors from the index.
        from pyspark.sql import functions as F

        from data_engineering_hs_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        emb = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .select("vec_id", "embedding")
            .localCheckpoint(eager=True)
        )
        poison = emb.filter("vec_id % 3 = 0").select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.lit(NAN).cast("double")
            ).alias("embedding"),
        )
        clean = emb.filter("vec_id % 3 != 0")
        corpus = clean.unionByName(poison)
        books = pq_train(clean, m=8, k=16, iters=2, dim=64)
        # corrupt vectors never make it into the code store at all
        codes = pq_encode(corpus, books)
        assert codes.filter("vec_id % 3 = 0").count() == 0
        out = pq_topk(
            corpus, clean.limit(2), books, k=5, shortlist=10
        ).collect()
        assert len(out) == 10
        assert all(r["neighbor_id"] % 3 != 0 for r in out)
        assert all(math.isfinite(r["cos_sim"]) for r in out)

    def test_near_dups_never_pair_corrupt_vectors(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
        )

        vecs = [
            [1.0, 0.0, 0.0],
            [1.0, 0.0, 0.0],
            [NAN, 1.0, 0.0],
            [INF, INF, 0.0],
        ]
        df = _mk(spark, vecs)
        pairs = embedding_near_dups(
            df, threshold=0.9, n_planes=4, dim=3
        ).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in ids
        assert all(2 not in p and 3 not in p for p in ids)
        for r in pairs:
            assert math.isfinite(r["cos_sim"]) and r["cos_sim"] >= 0.9


class TestIvfFlatCorruptAdmitPinned:
    """r16 verdict item 5: the IVF-Flat ADMIT posture for non-finite
    vectors (r15, sanctioned as-is) converted into a pinned test on a
    corrupt-HEAVY corpus. The contract being pinned:

    - corrupt vectors are ADMITTED (unlike the PQ path, whose encoder
      excludes them as unencodable) and ALL land in the LOWEST-LABEL
      cell (every assignment score is 0.0; ties break by label) — the
      hazard is bounded, observable SKEW of one cell, not correctness;
    - the corpus stamp counts the FULL admitted corpus, so
      verify_corpus=True passes with the same corrupt-heavy frame the
      store was built from;
    - queries never surface a corrupt row above finite candidates
      (cosine_from scores non-finite similarity 0.0), and store-mode
      ivf_topk matches brute force on the corrupt-heavy corpus.
    """

    def _fixtures(self, spark):
        finite = [
            [1.0, 0.0, 0.0], [0.9, 0.1, 0.0], [0.8, 0.2, 0.0],
            [0.0, 1.0, 0.0], [0.1, 0.9, 0.0], [0.2, 0.8, 0.0],
        ]
        corrupt = [
            [NAN, 1.0, 0.0], [INF, 0.0, 0.0], [-INF, 1.0, 1.0],
            [NAN, NAN, NAN],
        ]  # 40% of the corpus
        corpus = _mk(spark, finite + corrupt)
        # labels deliberately NOT starting at 0: the pin is
        # "lowest label", not "label zero"
        centers = spark.createDataFrame(
            [(3, [1.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0])],
            "label int, centroid array<double>",
        )
        return corpus, centers, len(finite), len(corrupt)

    def test_corrupt_rows_skew_into_lowest_label_cell(
        self, spark, tmp_path
    ):
        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
        )

        corpus, centers, n_fin, n_cor = self._fixtures(spark)
        store = str(tmp_path / "ivf")
        build_ivf_store(corpus, centers, store)
        rows = spark.read.parquet(store).collect()
        assert len(rows) == n_fin + n_cor  # all ADMITTED
        cells = {r["vec_id"]: r["cell"] for r in rows}
        for cid in range(n_fin, n_fin + n_cor):
            assert cells[cid] == 3, (cid, cells[cid])  # lowest label
        # appends follow the same admit + lowest-label assignment
        inc = spark.createDataFrame(
            [(100, [NAN, 0.5, 0.5])],
            "vec_id long, embedding array<double>",
        )
        append_to_cell_store(inc, centers, store)
        appended = {
            r["vec_id"]: r["cell"]
            for r in spark.read.parquet(store).collect()
        }
        assert appended[100] == 3

    def test_stamp_counts_full_admitted_corpus_and_queries_clean(
        self, spark, tmp_path
    ):
        from data_engineering_hs_spark.operators.similarity import (
            brute_force_topk,
            build_ivf_store,
            ivf_topk,
        )

        corpus, centers, n_fin, n_cor = self._fixtures(spark)
        store = str(tmp_path / "ivf")
        build_ivf_store(corpus, centers, store)
        q = corpus.filter("vec_id = 0")
        # verify_corpus=True with the SAME corrupt-heavy frame: the
        # stamp counts the full admitted corpus, so this must pass
        got = ivf_topk(
            corpus, q, centers, k=4, nprobe=2,
            vector_store=store, verify_corpus=True,
        ).collect()
        want = brute_force_topk(corpus, q, k=4).collect()
        assert [(r["rank"], r["neighbor_id"]) for r in sorted(
            got, key=lambda r: r["rank"]
        )] == [(r["rank"], r["neighbor_id"]) for r in sorted(
            want, key=lambda r: r["rank"]
        )]
        # k=4 < finite candidates → no corrupt id can appear
        corrupt_ids = set(range(n_fin, n_fin + n_cor))
        assert not corrupt_ids & {r["neighbor_id"] for r in got}
        for r in got:
            assert math.isfinite(r["cos_sim"])
