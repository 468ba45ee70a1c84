"""Hostile-parameter contracts (r14 lens): misconfigurations must fail
fast at the config site, never produce silent garbage a 1000-executor
job would materialize before anyone noticed.

Probe method: drive every parameterized corpus/dedup/similarity
operator with boundary and out-of-range parameters; classify each as
RAISES (good if specific) vs SILENT (good only if the degenerate
output is semantically defensible). Findings fixed:
- word_shingle_seq/word_shingles k=0 emitted the raw token list as
  "0-shingles" (feeding minhash/common_ngrams GARBAGE signatures);
- pack_sequences target=0 marked EVERY item oversize in its own bin —
  one bin per item at corpus scale;
- minhash_signatures num_hashes=0 died deep in the aggregate with an
  internal 'exprs should not be empty' assertion;
- hash_split with a non-positive weight silently yielded an empty or
  inverted split range, and an infinite one died in int(round(NaN))
  naming no weight;
- hyperplane LSH (lsh_bucket_assign, and lsh_topk/embedding_near_dups
  through it) died with internal errors on n_planes=0 (IndexError),
  dim=0 (reduce of an empty iterable) and n_planes=64 (a bucket bit
  that overflows a long);
- chunk_documents chunk_tokens=0 raised, but blamed `overlap`.

Defensible silents (pinned as contracts, not fixed): top-k with k<=0
returns an empty frame (top-0 of anything IS nothing); lsh bands
validation already existed (bands must divide num_hashes);
stratified_quota_sample quota=0 selects nothing.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three")],
        "doc_id long, text string",
    )


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )


class TestLoudMisconfigs:
    def test_word_shingles_k0(self, docs):
        from data_engineering_hs_spark.functions.text import word_shingles

        with pytest.raises(ValueError, match="k must be >= 1"):
            docs.select(word_shingles("text", k=0))

    def test_minhash_zero_hashes(self, docs):
        from data_engineering_hs_spark.operators.dedup import (
            minhash_signatures,
        )

        with pytest.raises(ValueError, match="num_hashes must be >= 1"):
            minhash_signatures(docs, "text", "doc_id", num_hashes=0)

    def test_pack_sequences_zero_target(self, spark):
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        items = spark.createDataFrame([(1, 5)], "id long, n_tokens int")
        with pytest.raises(ValueError, match="target >= 1"):
            pack_sequences(items, "n_tokens", "id", target=0, shards=2)
        with pytest.raises(ValueError, match="shards >= 1"):
            pack_sequences(items, "n_tokens", "id", target=128, shards=0)

    def test_hash_split_bad_weights(self, docs):
        from data_engineering_hs_spark.operators.corpus import hash_split

        with pytest.raises(ValueError, match="every weight > 0"):
            hash_split(docs, "doc_id", [("train", 1.0), ("val", 0.0)])
        with pytest.raises(ValueError, match="every weight > 0"):
            hash_split(docs, "doc_id", [("a", -0.5), ("b", 1.5)])
        with pytest.raises(ValueError, match="every weight > 0"):
            # NaN fails both < and >; a naive w <= 0 guard passes it
            # and the failure surfaces far away in int(round(NaN))
            hash_split(docs, "doc_id", [("a", float("nan")), ("b", 0.5)])
        with pytest.raises(ValueError, match="finite"):
            # inf passes `w > 0`; the inf total then turns w/total NaN
            hash_split(docs, "doc_id", [("a", float("inf")), ("b", 0.5)])
        with pytest.raises(ValueError, match="at least one split"):
            hash_split(docs, "doc_id", [])

    def test_chunk_documents_zero_chunk_tokens_blames_right_param(
        self, docs
    ):
        from data_engineering_hs_spark.operators.corpus import (
            chunk_documents,
        )

        with pytest.raises(ValueError, match="chunk_tokens must be >= 1"):
            chunk_documents(docs, "text", "doc_id", chunk_tokens=0, overlap=0)

    def test_hyperplane_lsh_sizes_out_of_range(self, spark, vecs):
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
            lsh_bucket_assign,
            lsh_topk,
        )

        cases = [
            ({"n_planes": 0}, "n_planes"),
            ({"n_planes": 64}, "n_planes"),
            ({"dim": 0}, "dim must be >= 1"),
        ]
        sc = spark.sparkContext
        sc.setJobGroup("hostile_lsh", "hostile_lsh")
        try:
            for kw, msg in cases:
                with pytest.raises(ValueError, match=msg):
                    lsh_bucket_assign(vecs, **kw)
                with pytest.raises(ValueError, match=msg):
                    lsh_topk(vecs, vecs, **kw)
                with pytest.raises(ValueError, match=msg):
                    embedding_near_dups(vecs, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # raised at the API boundary, before any Spark job
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("hostile_lsh")) == 0

    def test_lsh_bands_must_divide(self, docs):
        from data_engineering_hs_spark.operators.dedup import (
            lsh_band_buckets,
        )

        with pytest.raises(ValueError, match="bands must divide"):
            lsh_band_buckets(docs, "text", "doc_id", num_hashes=16, bands=5)


class TestDefensibleSilents:
    def test_topk_k0_is_empty(self, vecs):
        from data_engineering_hs_spark.operators.similarity import (
            brute_force_topk,
        )

        out = brute_force_topk(
            vecs, vecs, k=0, id_col="vec_id", vec_col="embedding"
        )
        assert out.count() == 0

    def test_hash_split_weights_are_proportions(self, docs):
        # sum need not be 1.0 — weights normalize (2:2 == 1:1); pinned
        # so "0.8 + 0.8" is read as 50/50, never as an error
        from data_engineering_hs_spark.operators.corpus import hash_split

        a = hash_split(docs, "doc_id", [("x", 0.8), ("y", 0.8)])
        b = hash_split(docs, "doc_id", [("x", 0.5), ("y", 0.5)])
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


class TestPackPoisonSizes:
    def test_negative_size_raises_with_ids(self, spark):
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        items = spark.createDataFrame(
            [(1, 5), (2, -3), (3, 7)], "id long, n_tokens int"
        )
        with pytest.raises(Exception, match="negative size"):
            pack_sequences(
                items, "n_tokens", "id", target=8, shards=1
            ).collect()
