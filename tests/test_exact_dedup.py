"""Unit tests for the dedup operators' edge contracts: dup-group
convergence, band validation, incremental (batch-over-batch) exact and
MinHash-LSH dedup, and canonicalization (planted dups — the testdata
corpus has none)."""

from __future__ import annotations


class TestDupGroupConvergence:
    def test_deep_chain_raises_when_budget_too_small(self, spark):
        # a 12-node chain needs ~11 propagation rounds; a 3-round
        # budget must RAISE, not return a silently split component
        import pytest

        from data_engineering_hs_spark.operators.dedup import dup_groups

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dup_groups(pairs, max_iters=3)
        # and with budget: one component rooted at 0
        ok = dup_groups(pairs, max_iters=20).collect()
        assert {r.component for r in ok} == {0}
        assert len(ok) == 12


class TestBandValidation:
    def test_bands_must_divide_num_hashes(self, spark):
        import pytest

        from data_engineering_hs_spark.operators.dedup import (
            lsh_band_buckets,
            minhash_lsh_pairs,
        )

        docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="must divide"):
            lsh_band_buckets(docs, "text", "doc_id", num_hashes=32, bands=6)
        with pytest.raises(ValueError, match="must divide"):
            minhash_lsh_pairs(
                docs, "text", "doc_id", num_hashes=32, bands=64
            )


class TestIncrementalDedup:
    """Batch-over-batch growth: only the new increment is scanned;
    the store is the fingerprints of every earlier increment's
    survivors."""

    def test_two_increment_round_trip(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            incremental_exact_dedup,
        )

        b1 = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA   beta")],
            ["doc_id", "text"],
        )
        s1 = incremental_exact_dedup(b1, None)
        # doc 3 normalizes to doc 1's text → intra-batch dup, min id wins
        assert sorted(r.doc_id for r in s1.collect()) == [1, 2]
        store = s1.select("fingerprint")

        b2 = spark.createDataFrame(
            [(10, "gamma delta"), (11, "epsilon zeta"), (12, "epsilon zeta")],
            ["doc_id", "text"],
        )
        s2 = incremental_exact_dedup(b2, store)
        # 10 is a cross-increment dup; 12 an intra-batch dup
        assert sorted(r.doc_id for r in s2.collect()) == [11]
        store = store.unionByName(s2.select("fingerprint"))

        # replaying increment 2 yields nothing new (idempotent growth)
        assert incremental_exact_dedup(b2, store).count() == 0

    def test_empty_store_passes_all_distinct(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            incremental_exact_dedup,
        )

        b = spark.createDataFrame([(1, "a b"), (2, "c d")], ["doc_id", "text"])
        out = incremental_exact_dedup(b, None)
        assert out.count() == 2
        assert "fingerprint" in out.columns

    def test_store_probe_resolves_uris_via_spark(self, spark, tmp_path):
        # existence must be decided by SPARK's filesystem, not
        # driver-local os.path: os.path.exists('file:///x') is False
        # even when /x exists, the exact failure mode that made a
        # populated remote (s3a/hdfs) store read as "no store yet"
        # and re-admitted every previously-seen document
        from data_engineering_hs_spark.operators.dedup import (
            incremental_exact_dedup,
            read_fingerprint_store,
        )

        plain = str(tmp_path / "fp_store_uri")
        b = spark.createDataFrame([(1, "a b"), (2, "c d")], ["doc_id", "text"])
        incremental_exact_dedup(b, None).select("fingerprint").write.parquet(
            plain
        )
        uri = "file://" + plain
        store = read_fingerprint_store(spark, uri)
        assert store is not None and store.count() == 2
        # absent path (URI form) -> None; empty dir -> None
        assert read_fingerprint_store(spark, "file://" + str(tmp_path / "nope")) is None
        empty = tmp_path / "empty_store"
        empty.mkdir()
        assert read_fingerprint_store(spark, str(empty)) is None


class TestIncrementalLsh:
    def test_cross_increment_near_dup_found(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            incremental_minhash_lsh,
            lsh_band_buckets,
        )

        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill every single day")
        b1 = spark.createDataFrame(
            [(1, base), (2, "completely unrelated text about spark "
                            "shuffles partitions and adaptive query execution")],
            ["doc_id", "text"],
        )
        pairs1, bands1 = incremental_minhash_lsh(b1, None)
        assert pairs1.count() == 0  # nothing near-dup within b1

        # b2 doc 10 is b1 doc 1 with one word changed → near-dup ACROSS
        # increments; detected without re-signaturing b1
        b2 = spark.createDataFrame(
            [(10, base.replace("lazy", "sleepy")),
             (11, "yet another unrelated document entirely about parquet "
                  "row groups and min max pruning statistics")],
            ["doc_id", "text"],
        )
        pairs2, bands2 = incremental_minhash_lsh(b2, bands1)
        got = [(r.id_a, r.id_b) for r in pairs2.collect()]
        assert (1, 10) in got
        assert all(a < b for a, b in got)

        # the returned band triples are what lsh_band_buckets emits
        store = bands1.unionByName(bands2)
        direct = lsh_band_buckets(
            b1.unionByName(b2), "text", "doc_id"
        )
        assert sorted(map(tuple, store.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_within_batch_half_matches_batch_path(self, spark):
        # The within-batch half is derived from the SAME band triples
        # that get returned for the store commit (one signature
        # evaluation for both), so it must equal the standalone batch
        # path row-for-row.
        from data_engineering_hs_spark.operators.dedup import (
            incremental_minhash_lsh,
            minhash_lsh_pairs,
        )

        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill every single day")
        batch = spark.createDataFrame(
            [
                (1, base),
                (2, base.replace("lazy", "sleepy")),
                (3, "completely unrelated text about spark shuffles "
                    "partitions and adaptive query execution"),
            ],
            ["doc_id", "text"],
        )
        within, _ = incremental_minhash_lsh(batch, None)
        direct = minhash_lsh_pairs(batch, "text", "doc_id")
        assert sorted(map(tuple, within.collect())) == sorted(
            map(tuple, direct.collect())
        )
        assert (1, 2) in {(r.id_a, r.id_b) for r in direct.collect()}


class TestCanonicalize:
    def test_argmax_quality_then_min_id(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            canonicalize_duplicates,
        )

        rows = [
            # group g1: id 3 has top quality -> canonical
            (1, "g1", 5), (2, "g1", 9), (3, "g1", 9 + 1),
            # group g2: quality tie between 10 and 11 -> min id 10
            (10, "g2", 4), (11, "g2", 4),
            # singleton maps to itself
            (20, "g3", 0),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "grp", "quality"])
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in canonicalize_duplicates(
                df, "grp", "quality", "doc_id"
            ).collect()
        }
        assert got == {1: 3, 2: 3, 3: 3, 10: 10, 11: 10, 20: 20}

    def test_survivors_are_exactly_canonicals(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            canonicalize_duplicates,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, f"g{i % 4}", (i * 13) % 11) for i in range(40)],
            ["doc_id", "grp", "quality"],
        )
        m = canonicalize_duplicates(df, "grp", "quality", "doc_id")
        survivors = m.filter(F.col("doc_id") == F.col("canonical_id"))
        assert survivors.count() == 4  # one per group
        # every group's canonical is a member of the group
        assert (
            m.select("grp", "canonical_id")
            .distinct()
            .join(
                df.select("grp", F.col("doc_id").alias("canonical_id")),
                ["grp", "canonical_id"],
                "left_anti",
            )
            .count()
            == 0
        )


class TestCanonicalizeEdges:
    def test_null_group_rows_self_map(self, spark):
        from pyspark.sql import functions as F

        from data_engineering_hs_spark.operators.dedup import (
            canonicalize_duplicates,
        )

        rows = [
            (1, "g1", 5), (2, "g1", 9),
            (7, None, 3), (8, None, 99),  # NOT duplicates of each other
        ]
        df = spark.createDataFrame(rows, ["doc_id", "grp", "quality"])
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in canonicalize_duplicates(
                df, "grp", "quality", "doc_id"
            ).collect()
        }
        # null-group rows map to themselves, nothing is dropped
        assert got == {1: 2, 2: 2, 7: 7, 8: 8}

    def test_string_ids_tie_breaks_lexically(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            canonicalize_duplicates,
        )

        rows = [
            ("doc-b", "g1", 4), ("doc-a", "g1", 4),  # tie -> doc-a
            ("doc-z", "g2", 1), ("doc-y", "g2", 7),  # doc-y wins
        ]
        df = spark.createDataFrame(rows, ["doc_id", "grp", "quality"])
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in canonicalize_duplicates(
                df, "grp", "quality", "doc_id"
            ).collect()
        }
        assert got == {
            "doc-a": "doc-a", "doc-b": "doc-a",
            "doc-y": "doc-y", "doc-z": "doc-y",
        }

    def test_null_quality_loses(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            canonicalize_duplicates,
        )

        rows = [(1, "g1", None), (2, "g1", 0)]
        df = spark.createDataFrame(
            rows, "doc_id int, grp string, quality int"
        )
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in canonicalize_duplicates(
                df, "grp", "quality", "doc_id"
            ).collect()
        }
        assert got == {1: 2, 2: 2}
