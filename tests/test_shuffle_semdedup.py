"""Behavior tests for the round-8 additions: deterministic shuffle
sharding (corpus.shuffle_shards) and SemDeDup cluster-scoped
semantic dedup (similarity.semdedup)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.operators import similarity as S
from data_engineering_hs_spark.operators.corpus import shuffle_shards

SF001 = "/root/testdata/sf0.01"


class TestShuffleShards:
    def test_partition_local_order_and_coverage(self, spark):
        d = load_table(spark, SF001, "documents").select("doc_id")
        sh = shuffle_shards(d, "doc_id", n_shards=4, seed="v1")
        parts = sh.select("shard", "shuffle_key").rdd.glom().collect()
        # each shard lives entirely in ONE task; within a task rows
        # are sorted by (shard, key) so shards are contiguous and
        # internally key-ordered
        shard_home: dict[int, int] = {}
        for i, p in enumerate(parts):
            pairs = [(r.shard, r.shuffle_key) for r in p]
            assert pairs == sorted(pairs)
            for s in {r.shard for r in p}:
                assert shard_home.setdefault(s, i) == i
        assert sum(len(p) for p in parts) == d.count()

    def test_reproducible_and_partitioning_invariant(self, spark):
        d = load_table(spark, SF001, "documents").select("doc_id")
        a = shuffle_shards(d, "doc_id", n_shards=4).select(
            "doc_id", "shard", "shuffle_key"
        )
        b = shuffle_shards(d.repartition(13), "doc_id", n_shards=4).select(
            "doc_id", "shard", "shuffle_key"
        )
        assert sorted(a.collect()) == sorted(b.collect())

    def test_seed_redraws_assignment(self, spark):
        d = load_table(spark, SF001, "documents").select("doc_id")
        a = shuffle_shards(d, "doc_id", n_shards=4, seed="v1")
        b = shuffle_shards(d, "doc_id", n_shards=4, seed="v2")
        moved = (
            a.select("doc_id", "shard")
            .join(
                b.select("doc_id", F.col("shard").alias("shard2")), "doc_id"
            )
            .filter(F.col("shard") != F.col("shard2"))
            .count()
        )
        assert moved > 0


class TestSemDeDup:
    def _aug(self, spark):
        e = load_table(spark, SF001, "embeddings").select(
            "vec_id", "embedding", "label"
        )
        off = e.agg((F.max("vec_id") + 1).alias("o")).collect()[0].o
        copies = e.filter(F.col("vec_id") % 10 == 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(off)
        )
        return e.unionByName(copies), off

    def test_removes_exactly_the_planted_copies(self, spark):
        aug, off = self._aug(spark)
        cents = S.centroids(aug)
        res = S.semdedup(aug.select("vec_id", "embedding"), cents, 0.95)
        removed = {r.vec_id for r in res.filter("removed").collect()}
        expected = {
            r.vec_id + off
            for r in aug.filter(
                (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < off)
            ).collect()
        }
        assert removed == expected

    def test_lower_threshold_removes_more_never_fewer(self, spark):
        aug, _ = self._aug(spark)
        cents = S.centroids(aug)
        hi = S.semdedup(aug.select("vec_id", "embedding"), cents, 0.95)
        lo = S.semdedup(aug.select("vec_id", "embedding"), cents, 0.30)
        hi_ids = {r.vec_id for r in hi.filter("removed").collect()}
        lo_ids = {r.vec_id for r in lo.filter("removed").collect()}
        assert hi_ids <= lo_ids
        assert len(lo_ids) > len(hi_ids)

    def test_every_row_assigned_once(self, spark):
        aug, _ = self._aug(spark)
        cents = S.centroids(aug)
        res = S.semdedup(aug.select("vec_id", "embedding"), cents, 0.95)
        assert res.count() == aug.count()
        assert res.select("vec_id").distinct().count() == aug.count()

    def test_hot_cluster_capped_with_truncation_marker(self, spark):
        # One boilerplate-heavy cluster of 30 near-identical vectors
        # (the 100-TB skew case) with max_cluster_size=10: pairs are
        # generated only among the 10 HIGHEST-c_sim members, rows
        # beyond the cap are conservatively kept, and every row of
        # the capped cluster carries truncated=True.
        hot = [(i, [1.0, i * 0.001]) for i in range(30)]
        cold = [(100, [-1.0, 0.3]), (101, [-1.0, -0.3])]
        aug = spark.createDataFrame(
            hot + cold, "vec_id long, embedding array<double>"
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
            "label int, centroid array<double>",
        )
        res = S.semdedup(aug, cents, 0.9, max_cluster_size=10).collect()
        by_id = {r.vec_id: r for r in res}
        # capped cluster: marker on EVERY member, incl. the pool
        assert all(by_id[i].truncated for i in range(30))
        assert not by_id[100].truncated and not by_id[101].truncated
        # pool = ids 0..9 (highest c_sim); dominance removes all but
        # the pool's lowest-c_sim member (id 9)
        removed = {i for i in range(30) if by_id[i].removed}
        assert removed == set(range(9))
        # beyond-cap rows are never compared -> never removed
        assert not any(by_id[i].removed for i in range(10, 30))
        assert not by_id[100].removed and not by_id[101].removed

    def test_uncapped_output_reports_no_truncation(self, spark):
        aug, _ = self._aug(spark)
        cents = S.centroids(aug)
        res = S.semdedup(aug.select("vec_id", "embedding"), cents, 0.95)
        assert res.filter("truncated").count() == 0


class TestTwoLevelAssignment:
    """assign_nearest_centroid's hierarchical path (super_k): the
    1M-vector stress measured the flat n*k assignment as SemDeDup's
    dominant stage; the two-level coarse quantizer cuts per-vector
    dots from k to super_k + p*k/super_k at the cost of approximate
    assignment for borderline vectors."""

    def _clustered(self, spark):
        # 3 tight, well-separated clusters in 4-d
        import itertools

        bases = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
        rows = []
        i = 0
        for c, b in enumerate(bases):
            for jit in (0.0, 0.01, -0.01, 0.02):
                v = list(b)
                v[3] = jit
                rows.append((i, v))
                i += 1
        cents = spark.createDataFrame(
            list(enumerate(bases)), "label int, centroid array<double>"
        )
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), cents

    def test_two_level_matches_flat_on_separated_clusters(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        df, cents = self._clustered(spark)
        flat = assign_nearest_centroid(df, cents)
        two = assign_nearest_centroid(df, cents, super_k=2)
        f = {r.vec_id: r.cluster for r in flat.collect()}
        t = {r.vec_id: r.cluster for r in two.collect()}
        assert f == t and len(f) == 12

    def test_probing_all_supers_is_exact(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        df, cents = self._clustered(spark)
        flat = assign_nearest_centroid(df, cents).select(
            "vec_id", "cluster", "c_sim"
        )
        two = assign_nearest_centroid(
            df, cents, super_k=3, probe_supers=3
        ).select("vec_id", "cluster", "c_sim")
        assert sorted(flat.collect()) == sorted(two.collect())

    def test_no_vector_vanishes_when_a_super_goes_empty(self, spark):
        # Lloyd can end with a member-less super whose stale center is
        # still some vector's nearest probe; member-less supers must
        # not be probe targets or that vector gets zero candidate rows
        # after the inner member join. Invariant: output is a
        # PARTITION of the input for any data/super_k/probe width.
        import numpy as np

        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        for seed in (0, 1, 2, 3, 11):
            rng = np.random.default_rng(seed)
            n, k, dim = 60, 8, 4
            df = spark.createDataFrame(
                [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)],
                "vec_id long, embedding array<double>",
            )
            cents = spark.createDataFrame(
                [(j, [float(x) for x in rng.normal(size=dim)]) for j in range(k)],
                "label int, centroid array<double>",
            )
            out = assign_nearest_centroid(df, cents, super_k=4, probe_supers=1)
            assert out.count() == n, seed
            assert out.select("vec_id").distinct().count() == n, seed

    def test_super_grouping_ignores_centroid_row_order(self, spark):
        # cents is a shuffled aggregate; collect() order is not stable.
        # The driver-side grouping sorts by label first, so a reversed
        # frame must produce the identical assignment.
        import numpy as np

        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        rng = np.random.default_rng(5)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        rows = [(j, [float(x) for x in rng.normal(size=4)]) for j in range(6)]
        fwd = spark.createDataFrame(rows, "label int, centroid array<double>")
        rev = spark.createDataFrame(
            rows[::-1], "label int, centroid array<double>"
        ).coalesce(1)
        a = sorted(
            (r.vec_id, r.cluster)
            for r in assign_nearest_centroid(df, fwd, super_k=3).collect()
        )
        b = sorted(
            (r.vec_id, r.cluster)
            for r in assign_nearest_centroid(df, rev, super_k=3).collect()
        )
        assert a == b

    def test_empty_centroid_table_returns_empty_not_crash(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        empty = spark.createDataFrame([], "label int, centroid array<double>")
        assert assign_nearest_centroid(df, empty, super_k=4).count() == 0

    def test_duplicate_ids_assign_identically_and_all_survive(self, spark):
        # documented semantics: one output row per INPUT row — the
        # pre-slim window silently collapsed duplicate ids
        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        df = spark.createDataFrame(
            [(7, [1.0, 0.0]), (7, [1.0, 0.0]), (8, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "label int, centroid array<double>",
        )
        rows = assign_nearest_centroid(df, cents).collect()
        assert len(rows) == 3
        sevens = [r for r in rows if r.vec_id == 7]
        assert len(sevens) == 2
        assert sevens[0].cluster == sevens[1].cluster == 0

    def test_duplicate_ids_with_different_vectors_assign_per_row(self, spark):
        # each INPUT ROW assigns by its own vector: the synthetic
        # row-id window must not mix candidates across duplicate ids —
        # the by-id window handed one twin's winner to both, silently
        # mislabeling the twin whose vector points elsewhere (r9
        # ADVICE finding). Both modes.
        from data_engineering_hs_spark.operators.similarity import (
            assign_nearest_centroid,
        )

        df = spark.createDataFrame(
            [(7, [1.0, 0.0]), (7, [0.0, 1.0]), (8, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "label int, centroid array<double>",
        )
        for kwargs in ({}, {"super_k": 2, "probe_supers": 2}):
            rows = assign_nearest_centroid(df, cents, **kwargs).collect()
            assert len(rows) == 3
            got = sorted(
                (r.vec_id, tuple(r.embedding), r.cluster) for r in rows
            )
            assert got == [
                (7, (0.0, 1.0), 1),
                (7, (1.0, 0.0), 0),
                (8, (0.0, 1.0), 1),
            ]
