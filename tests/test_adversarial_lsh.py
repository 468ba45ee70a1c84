"""Adversarial hot-bucket lens (r14, queued item executed early):
ENGINEERED collision floods through the LSH candidate generators,
not generator-random ones — the caps' reason for existing is a
boilerplate-heavy real corpus where thousands of documents share one
signature, so the contracts are pinned on exactly that shape.

Contracts pinned:
- exact-duplicate flood BELOW the cap: candidate generation is
  COMPLETE (all C(n,2) pairs, untruncated) — identical docs collide
  on every band by construction;
- flood ABOVE the cap: output is bounded by C(cap,2) per bucket
  (members kept = lowest `cap` ids of the sorted member array),
  every emitted pair carries truncated=true, and the job completes
  (no n² reducer);
- sub-shingle docs (< k words) never enter any bucket;
- template families (shared core + unique tail) surface only
  genuinely-similar pairs, verifiable against exact Jaccard;
- the same flood discipline holds for the embedding-LSH generator
  (identical vectors → one bucket; cap bounds the pair count, flags
  ride every pair, verified pairs are exact-cosine checked).
"""

from __future__ import annotations

from math import comb

from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestMinhashFloods:
    def test_duplicate_flood_below_cap_is_complete(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        n = 30
        df = _docs(spark, ["the quick brown fox jumps over the dog"] * n)
        out = minhash_lsh_pairs(df, "text", "doc_id").collect()
        assert len(out) == comb(n, 2)
        assert all(not r["truncated"] for r in out)
        assert all(r["id_a"] < r["id_b"] for r in out)

    def test_duplicate_flood_above_cap_is_bounded_and_flagged(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        n, cap = 40, 10
        df = _docs(spark, ["the quick brown fox jumps over the dog"] * n)
        out = minhash_lsh_pairs(
            df, "text", "doc_id", max_bucket_size=cap
        ).collect()
        # every band's bucket holds the SAME sorted member list, so
        # the kept prefix is identical across bands → exactly
        # C(cap, 2) distinct pairs, all from capped buckets
        assert len(out) == comb(cap, 2)
        assert all(r["truncated"] for r in out)
        kept = {i for r in out for i in (r["id_a"], r["id_b"])}
        assert kept == set(range(cap))  # lowest ids survive the slice

    def test_sub_shingle_docs_never_bucket(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        # one-word and empty docs have no 3-shingles: no signature,
        # no bucket, no pairs — even when thousands are identical
        df = _docs(spark, ["word"] * 20 + [""] * 20)
        assert minhash_lsh_pairs(df, "text", "doc_id").count() == 0

    def test_template_family_pairs_are_genuinely_similar(self, spark):
        from data_engineering_hs_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        tails = ["red", "blue", "green", "cyan", "pink", "gold"]
        family = [f"{core} {t}" for t in tails]
        noise = [
            "completely different text one two three four five six",
            "unrelated words seven eight nine ten eleven twelve",
        ]
        df = _docs(spark, family + noise)
        cand = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, "text", "doc_id").collect()
        }
        # every family pair shares 8 of ~10 shingles (J ≈ 0.67, above
        # the b=8/r=4 S-curve threshold ≈ 0.59) — the family must
        # surface; the noise docs share nothing and must not pair
        # with the family
        fam_ids = set(range(len(family)))
        assert cand, "engineered near-dup family produced no candidates"
        for a, b in cand:
            assert {a, b} <= fam_ids, (a, b)
        # exact-verify: every candidate's true word-set Jaccard is high
        words = [set(t.split()) for t in family + noise]
        j = {
            (a, b): len(words[a] & words[b]) / len(words[a] | words[b])
            for a, b in cand
        }
        assert all(v > 0.5 for v in j.values()), j


class TestEmbeddingLshFlood:
    def test_identical_vector_flood_bounded_and_verified(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
        )

        n, cap = 40, 5
        df = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        out = embedding_near_dups(
            df, threshold=0.99, n_planes=4, dim=3, max_bucket_size=cap
        ).collect()
        # identical vectors share one bucket per plane-set; capped
        # membership bounds pairs at C(cap, 2), all flagged
        assert 0 < len(out) <= comb(cap, 2)
        assert all(r["truncated"] for r in out)
        assert all(r["cos_sim"] == 1.0 for r in out)

    def test_identical_vector_flood_below_cap_complete(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
        )

        n = 12
        df = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        out = embedding_near_dups(
            df, threshold=0.99, n_planes=4, dim=3
        ).collect()
        assert len(out) == comb(n, 2)
        assert all(not r["truncated"] for r in out)
