"""Behavior pins for the non-oracle operators: LSH recall, SimHash
locality, language-ID accuracy, IVF recall, quality-score shape.

These are the tests backing every `oracle=None` entry's "pinned in
tests" claim.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.text import lang_id, quality_score, word_shingles
from data_engineering_hs_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash64,
    simhash_near_pairs,
)
from data_engineering_hs_spark.operators.similarity import (
    brute_force_topk,
    centroids,
    ivf_topk,
)
from tests.conftest import SF001


def _shingle_jaccard_pairs(spark, docs, threshold):
    sh = docs.select("doc_id", word_shingles("text").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.s", "b.s"))
    union = F.size(F.array_union("a.s", "b.s"))
    return {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (inter.cast("double") / union).alias("j"),
        )
        .filter(F.col("j") >= threshold)
        .collect()
    }


class TestMinhashRecall:
    def test_lsh_finds_high_jaccard_pairs(self, spark):
        # b=8, r=4 → S-curve threshold ≈ 0.59; pairs at shingle-Jaccard
        # ≥ 0.7 must be found with high probability. On the sf0.01
        # corpus recall measured 1.0; pin ≥ 0.9 for hash-family drift.
        docs = spark.read.parquet(f"{SF001}/documents.parquet")
        truth = _shingle_jaccard_pairs(spark, docs, 0.7)
        assert truth, "corpus must contain planted near-dups"
        cands = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
        }
        recall = len(truth & cands) / len(truth)
        assert recall >= 0.9, f"LSH recall {recall} on {len(truth)} true pairs"


class TestSimhash:
    def test_identical_docs_have_zero_hamming(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),
                (3, "completely different words entirely unrelated content here"),
            ],
            ["doc_id", "text"],
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_pairs(df, "text", "doc_id", max_hamming=64).collect()
        }
        assert pairs[(1, 2)] == 0
        sims = {r["doc_id"]: r["simhash"] for r in simhash64(df, "text", "doc_id").collect()}
        assert sims[1] == sims[2] != sims[3]

    def test_small_perturbation_small_distance(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
        perturbed = base.replace("delta", "delta2", 1)
        df = spark.createDataFrame([(1, base), (2, perturbed)], ["doc_id", "text"])
        pairs = simhash_near_pairs(df, "text", "doc_id", max_hamming=16).collect()
        assert len(pairs) == 1 and pairs[0]["hamming"] <= 16


class TestLangId:
    def test_accuracy_on_marker_texts(self, spark):
        samples = [
            ("en", "the cat sat on the mat and it was happy that day"),
            ("en", "this is the house that jack built for his family"),
            ("es", "el perro corre por la calle y la casa es grande"),
            ("es", "los libros de la biblioteca son una maravilla que leer"),
            ("de", "der hund läuft durch die stadt und das haus ist groß"),
            ("de", "ich bin nicht sicher ob das ein gutes zeichen ist"),
            ("fr", "le chien court dans les rues et la maison est belle"),
            ("fr", "c'est une belle journée pour marcher dans le parc"),
            ("zh", "今天天气很好我们去公园散步吧"),
        ]
        df = spark.createDataFrame(
            [(i, lang, text) for i, (lang, text) in enumerate(samples)],
            ["id", "lang", "text"],
        )
        preds = df.select("lang", lang_id("text").alias("pred")).collect()
        correct = sum(1 for r in preds if r["lang"] == r["pred"])
        assert correct == len(samples), [(r["lang"], r["pred"]) for r in preds]

    def test_unknown_gets_und(self, spark):
        df = spark.createDataFrame([(1, "xyzzy qwerty 12345")], ["id", "text"])
        assert df.select(lang_id("text").alias("p")).collect()[0]["p"] == "und"


class TestQualityScore:
    def test_ordering_matches_intuition(self, spark):
        df = spark.createDataFrame(
            [
                (1, "The quick brown fox jumps over the lazy dog and runs far "
                     "away into the quiet green forest to rest for a while now " * 3),
                (2, "!!! ??? *** ### $$$ %%% ^^^ &&&"),
                (3, "word"),
            ],
            ["doc_id", "text"],
        )
        scores = {
            r["doc_id"]: r["q"]
            for r in df.select("doc_id", quality_score("text").alias("q")).collect()
        }
        assert scores[1] > scores[2]
        assert scores[1] > scores[3]
        assert all(0.0 <= s <= 1.0 for s in scores.values())


class TestApproxQuantiles:
    def test_bounded_error_vs_exact(self, spark):
        # approx_percentile(accuracy=1000) guarantees rank error
        # ≤ n/1000; on ~15k rows per returnflag the value error at the
        # median of 1..50 integer quantities is at most 1.
        l = spark.read.parquet(f"{SF001}/lineitem.parquet")
        from pyspark.sql import functions as F2

        both = (
            l.groupBy("l_returnflag")
            .agg(
                F2.expr(
                    "percentile(cast(round(l_quantity) as bigint), 0.5)"
                ).alias("exact"),
                F2.expr(
                    "approx_percentile(cast(round(l_quantity) as bigint), 0.5, 1000)"
                ).alias("approx"),
            )
            .collect()
        )
        for r in both:
            assert abs(float(r["exact"]) - float(r["approx"])) <= 1.0


class TestIvfRecall:
    def test_recall_vs_brute_force(self, spark):
        # nprobe=2 of 10 label cells; measured recall@5 ≈ 0.36 on the
        # sf0.01 embeddings. Pin a conservative floor — the point is
        # the plumbing finds a nontrivial fraction through 20% of the
        # corpus, not a tuned index.
        e = spark.read.parquet(f"{SF001}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 20)
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(e, q, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(e, q, centroids(e), k=5, nprobe=2).collect()
        }
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.2, f"IVF recall@5 = {recall}"

    def test_lsh_topk_recall_floor(self, spark):
        # 4 planes, 1-bit multiprobe: measured recall@5 ≈ 0.44 while
        # scanning ~30% of the corpus; pin a conservative floor.
        from data_engineering_hs_spark.operators.similarity import lsh_topk

        e = spark.read.parquet(f"{SF001}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 20)
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(e, q, k=5).collect()
        }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_topk(e, q, k=5).collect()
        }
        assert len(truth & got) / len(truth) >= 0.3

    def test_more_probes_monotone_recall(self, spark):
        e = spark.read.parquet(f"{SF001}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 10)
        cents = centroids(e)
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(e, q, k=5).collect()
        }

        def recall(nprobe):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk(e, q, cents, k=5, nprobe=nprobe).collect()
            }
            return len(truth & got) / len(truth)

        r2, r10 = recall(2), recall(10)
        assert r10 >= r2
        assert r10 == 1.0  # probing all cells == brute force


class TestEmbeddingNearDup:
    def test_finds_planted_near_dups(self, spark):
        # Plant an exact duplicate pair and a near-identical pair among
        # unrelated one-hot-ish vectors; both must surface, unrelated
        # orthogonal vectors must not.
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
        )

        def onehot(i, eps=0.0):
            v = [0.0] * 64
            v[i] = 1.0
            if eps:
                v[(i + 1) % 64] = eps
            return v

        rows = [
            (1, onehot(0)),
            (2, onehot(0)),          # exact dup of 1
            (3, onehot(5)),
            (4, onehot(5, eps=0.01)),  # near dup of 3 (eps small enough
            # that no hyperplane bit flips for this seed — LSH recall
            # is probabilistic in the angle, the verify is exact)
            (5, onehot(20)),
            (6, onehot(40)),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dups(df, threshold=0.95).collect()
        }
        assert (1, 2) in got
        assert (3, 4) in got
        assert all(a < b for a, b in got)
        assert (5, 6) not in got and (6, 5) not in got

    def test_hot_bucket_bounded_output(self, spark):
        # 200 identical vectors all land in one LSH bucket; with
        # max_bucket_size=50 output is exactly C(50,2) pairs, every
        # pair flagged truncated — bounded, not n².
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
        )

        v = [1.0] + [0.5] * 63
        df = spark.createDataFrame(
            [(i, v) for i in range(200)], ["vec_id", "embedding"]
        )
        out = embedding_near_dups(
            df, threshold=0.9, max_bucket_size=50
        ).collect()
        assert len(out) == 50 * 49 // 2
        assert all(r["truncated"] for r in out)

    def test_assignment_pipeline_not_self_joined(self, spark):
        # The LSH bucket-assignment expression (xxhash-plane dots)
        # must appear ONCE in the plan: pairs come from array-side
        # generation, vectors re-join from the plain base relation.
        from data_engineering_hs_spark.operators.similarity import (
            embedding_near_dups,
        )

        e = spark.read.parquet(f"{SF001}/embeddings.parquet")
        plan = embedding_near_dups(e)._jdf.queryExecution().optimizedPlan().toString()
        import re

        assert len(re.findall(r"collect_list", plan)) == 1


class TestDbtAssertionSemantics:
    def test_unique_ignores_nulls(self, spark):
        # dbt `unique` semantics: NULL keys are not compared to each
        # other; nullness is not_null's job.
        from data_engineering_hs_spark.quality.assertions import (
            not_null_violations,
            unique_violations,
        )

        df = spark.createDataFrame(
            [(None,), (None,), ("a",), ("a",), ("b",)], ["k"]
        )
        assert unique_violations(df, "k").collect()[0]["violations"] == 1
        assert not_null_violations(df, "k").collect()[0]["violations"] == 2


class TestCorpusOps:
    def test_winnowing_guarantee_shared_run(self, spark):
        # Schleimer et al.: with k-gram size k and window w, any shared
        # word run of length >= w+k-1 (here 6) must share at least one
        # fingerprint. Distinct docs share the planted 8-word run.
        from data_engineering_hs_spark.operators.corpus import (
            winnowing_fingerprints,
        )

        shared = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [
                (1, f"one two three {shared} four five six"),
                (2, f"{shared} nine ten eleven twelve thirteen fourteen"),
                (3, "totally different words with no overlap at all here now"),
            ],
            ["doc_id", "text"],
        )
        fps = winnowing_fingerprints(df, "text", "doc_id", k=3, window=4)
        by_doc = {
            i: {r["fingerprint"] for r in fps.filter(F.col("doc_id") == i).collect()}
            for i in (1, 2, 3)
        }
        assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
        assert not (by_doc[1] & by_doc[3])
        # sampling bound: far fewer fingerprints than grams
        assert len(by_doc[1]) < 12

    def test_short_doc_still_fingerprints(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            winnowing_fingerprints,
        )

        df = spark.createDataFrame([(1, "just three words"), (2, "a b")], ["doc_id", "text"])
        rows = winnowing_fingerprints(df, "text", "doc_id", k=3, window=4).collect()
        # doc 1 has exactly one 3-gram -> one fingerprint; doc 2 has none
        assert [r["doc_id"] for r in rows] == [1]

    def test_boilerplate_ratio_bounds_and_signal(self, spark):
        from data_engineering_hs_spark.operators.corpus import boilerplate_ratio

        common = "subscribe to our newsletter for updates today"
        rows = [(i, f"{common} unique{i} content{i} words{i} here{i}") for i in range(5)]
        rows.append((99, "completely original text with no template at all ok"))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["boilerplate_ratio"]
            for r in boilerplate_ratio(df, "text", "doc_id", min_docs=3).collect()
        }
        assert out[0] > 0.4  # template-heavy
        assert out[99] == 0.0
        assert all(0.0 <= v <= 1.0 for v in out.values())

    def test_boilerplate_ratio_keeps_short_docs(self, spark):
        # a doc shorter than the n-gram floor must surface with
        # (0, 0, 0.0), not vanish — the every-row contract
        # repetition_stats keeps (an inner-joining pipeline would
        # silently drop the doc otherwise)
        from data_engineering_hs_spark.operators.corpus import (
            boilerplate_ratio,
        )

        df = spark.createDataFrame(
            [(1, "one two"), (2, "alpha beta gamma delta")],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r
            for r in boilerplate_ratio(df, "text", "doc_id").collect()
        }
        assert set(rows) == {1, 2}
        assert rows[1]["n_shingles"] == 0
        assert rows[1]["n_common"] == 0
        assert rows[1]["boilerplate_ratio"] == 0.0

    def test_boilerplate_ratio_one_row_per_duplicate_id(self, spark):
        # the every-row rejoin must not turn duplicate doc ids into
        # duplicate OUTPUT rows — the contract is one row per id (the
        # pre-rejoin groupBy collapsed them; callers join on id)
        from data_engineering_hs_spark.operators.corpus import (
            boilerplate_ratio,
        )

        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (1, "alpha beta gamma delta"),
                (2, "x"),
                (2, "y"),
            ],
            ["doc_id", "text"],
        )
        out = boilerplate_ratio(df, "text", "doc_id").collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2]

    def test_scrub_pii(self, spark):
        from data_engineering_hs_spark.functions.text import scrub_pii

        df = spark.createDataFrame(
            [(1, "mail bob.smith+x@corp.example.co from 192.168.0.1 call 555-123-4567 ok")],
            ["id", "t"],
        )
        out = df.select(scrub_pii("t").alias("s")).collect()[0]["s"]
        assert out == "mail <EMAIL> from <IP> call <PHONE> ok"


class TestSetSimilarityJoin:
    def _truth(self, spark, df, t):
        toks = df.select(
            "doc_id", F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("s")
        )
        a, b = toks.alias("a"), toks.alias("b")
        jac = (
            F.size(F.array_intersect("a.s", "b.s")).cast("double")
            / F.size(F.array_union("a.s", "b.s"))
        )
        return {
            (r["id_a"], r["id_b"])
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                jac.alias("j"),
            )
            .filter(F.col("j") >= t)
            .collect()
        }

    def test_complete_at_multiple_thresholds(self, spark):
        # Prefix filtering must be EXACT: identical pair set as the
        # all-pairs join at every threshold — not a recall floor.
        from data_engineering_hs_spark.operators.dedup import set_similarity_join

        docs = spark.read.parquet(f"{SF001}/documents.parquet")
        for t in (0.5, 0.7, 0.9):
            got = {
                (r["id_a"], r["id_b"])
                for r in set_similarity_join(docs, "text", "doc_id", threshold=t).collect()
            }
            assert got == self._truth(spark, docs, t), f"threshold {t}"

    def test_jaccard_values_exact(self, spark):
        from data_engineering_hs_spark.operators.dedup import set_similarity_join

        df = spark.createDataFrame(
            [
                (1, "a b c d"),
                (2, "a b c e"),   # J(1,2) = 3/5
                (3, "a b c d"),   # J(1,3) = 1.0
                (4, "x y z w"),
            ],
            ["doc_id", "text"],
        )
        rows = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in set_similarity_join(df, "text", "doc_id", threshold=0.6).collect()
        }
        assert rows[(1, 3)] == 1.0
        assert abs(rows[(1, 2)] - 0.6) < 1e-12
        assert abs(rows[(2, 3)] - 0.6) < 1e-12
        assert len(rows) == 3

    def test_capped_hot_group_sound_and_flagged(self, spark):
        # Above max_bucket_size the completeness contract HANDS OFF to
        # the bounded-output contract (discovered by the sf0.1 sweep:
        # 5.1M true pairs vs 677k capped ones, all flagged): emitted
        # pairs must still be SOUND (genuinely >= t — here identical
        # docs, J=1.0), every pair from a capped group carries
        # truncated=true, and the output is bounded by the cap's
        # pair budget instead of the group's n^2.
        from data_engineering_hs_spark.operators.dedup import set_similarity_join

        n, cap = 300, 50
        df = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon") for i in range(n)],
            ["doc_id", "text"],
        )
        rows = set_similarity_join(
            df, "text", "doc_id", threshold=0.7, max_bucket_size=cap
        ).collect()
        assert rows, "capped group must still emit its bounded pairs"
        assert all(r["truncated"] for r in rows)
        assert all(abs(r["jaccard"] - 1.0) < 1e-12 for r in rows)
        # every prefix token produces the SAME capped id set (lowest
        # `cap` ids), so the budget is one group's worth of pairs
        assert len(rows) == cap * (cap - 1) // 2

    def test_fp_integral_product_keeps_prefix_complete(self, spark):
        # ceil over the raw double product overshoots when t·n is
        # mathematically integral (0.55×100 → 55.000000000000007 →
        # ceil 56), shortening A's prefix from 46 to 45. Adversarial
        # pair that the short prefix MISSES: A has 45 unique tokens
        # (df=1 → rarest → they fill the whole 45-token prefix) plus
        # 55 shared; B is exactly the 55 shared tokens (df=2), so the
        # smallest common token sits at position 46 of A's rarity
        # order and J = 55/100 = 0.55 exactly. Complete prefix
        # filtering must still emit the pair.
        from data_engineering_hs_spark.operators.dedup import set_similarity_join

        uniq = " ".join(f"u{i:02d}" for i in range(45))
        shared = " ".join(f"s{i:02d}" for i in range(55))
        df = spark.createDataFrame(
            [(1, f"{uniq} {shared}"), (2, shared)], ["doc_id", "text"]
        )
        rows = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in set_similarity_join(
                df, "text", "doc_id", threshold=0.55
            ).collect()
        }
        assert (1, 2) in rows
        assert abs(rows[(1, 2)] - 0.55) < 1e-12


class TestHashSplit:
    def test_partition_properties(self, spark):
        from data_engineering_hs_spark.operators.corpus import hash_split

        df = spark.range(10_000).withColumnRenamed("id", "doc_id")
        out = hash_split(df, "doc_id")
        counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
            F.count("*").alias("n")).collect()}
        assert set(counts) == {"train", "val", "test"}
        assert sum(counts.values()) == 10_000          # exhaustive + disjoint
        assert abs(counts["train"] / 10_000 - 0.9) < 0.02
        assert abs(counts["val"] / 10_000 - 0.05) < 0.01

    def test_assignment_independent_of_other_rows(self, spark):
        # content-keyed: an id's split never changes when the corpus
        # grows — the anti-leakage property rand()-splits lack
        from data_engineering_hs_spark.operators.corpus import hash_split

        small = spark.range(100).withColumnRenamed("id", "doc_id")
        big = spark.range(5_000).withColumnRenamed("id", "doc_id")
        s = {r["doc_id"]: r["split"] for r in hash_split(small, "doc_id").collect()}
        b = {r["doc_id"]: r["split"] for r in hash_split(big, "doc_id").collect()}
        assert all(b[i] == s[i] for i in s)

    def test_seed_changes_assignment(self, spark):
        from data_engineering_hs_spark.operators.corpus import hash_split

        df = spark.range(1_000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", seed="v1").collect()}
        c = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", seed="v2").collect()}
        assert any(a[i] != c[i] for i in a)


class TestStratifiedQuotaSample:
    def test_exact_quotas_and_stability(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            stratified_quota_sample,
        )

        df = spark.createDataFrame(
            [(i, "big" if i < 90 else "small") for i in range(100)],
            ["doc_id", "stratum"],
        )
        out = stratified_quota_sample(df, "stratum", "doc_id", quota=5)
        counts = {r["stratum"]: r["n"] for r in out.groupBy("stratum").agg(
            F.count("*").alias("n")).collect()}
        assert counts == {"big": 5, "small": 5}
        # short stratum returns all its rows
        tiny = stratified_quota_sample(df.filter("doc_id >= 97"), "stratum", "doc_id", 5)
        assert tiny.count() == 3
        # deterministic across partitionings
        a = {r["doc_id"] for r in out.collect()}
        b = {r["doc_id"] for r in stratified_quota_sample(
            df.repartition(7), "stratum", "doc_id", quota=5).collect()}
        assert a == b


class TestSketchTwins:
    def test_approx_top_k_contains_exact_heavy_hitters(self, spark):
        # DataSketches frequent-items guarantees no false negatives for
        # items above the error band; on this corpus the approx top-20
        # must contain every exact top-10 token with exact-ish counts.
        docs = spark.read.parquet(f"{SF001}/documents.parquet")
        toks = docs.filter(F.length(F.trim("text")) > 0).select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
        )
        exact = {
            r["token"]: r["n"]
            for r in toks.groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("token")).limit(10).collect()
        }
        approx = {
            row["item"]: row["count"]
            for row in toks.agg(
                F.expr("approx_top_k(token, 20)").alias("tk")
            ).collect()[0]["tk"]
        }
        for token, n in exact.items():
            assert token in approx
            assert abs(approx[token] - n) <= max(1, n // 100)

    def test_hll_sketch_close_to_exact_distinct(self, spark):
        docs = spark.read.parquet(f"{SF001}/documents.parquet")
        toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        exact = toks.agg(F.countDistinct("t").alias("n")).collect()[0]["n"]
        est = toks.agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(t))").alias("e")
        ).collect()[0]["e"]
        assert abs(est - exact) / exact < 0.05


class TestRepetitionStats:
    def test_looping_phrase_scores_high(self, spark):
        from data_engineering_hs_spark.operators.corpus import repetition_stats

        df = spark.createDataFrame(
            [
                (1, "buy now " * 10),          # one 2-gram loops
                (2, "a b c d e f g h i j"),    # all distinct
                (3, "x"),                      # shorter than n → 0.0
                (4, ""),                       # empty → 0.0
            ],
            ["doc_id", "text"],
        )
        rows = {r.doc_id: r for r in repetition_stats(df).collect()}
        assert rows[1].top_2gram_frac > 0.5
        assert rows[1].dup_3gram_frac > 0.9
        # doc 2: every 2-gram unique → top frac = 1/9, dup frac 0
        assert abs(rows[2].top_2gram_frac - 1 / 9) < 1e-12
        assert rows[2].dup_3gram_frac == 0.0
        assert rows[3].top_2gram_frac == 0.0 and rows[3].dup_3gram_frac == 0.0
        assert rows[4].top_2gram_frac == 0.0 and rows[4].dup_3gram_frac == 0.0

    def test_all_docs_present(self, spark):
        from data_engineering_hs_spark.operators.corpus import repetition_stats

        from data_engineering_hs_spark.catalog import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        assert repetition_stats(d).count() == d.count()


class TestDecontaminate:
    def test_shared_ngram_detected_distinctly(self, spark):
        from data_engineering_hs_spark.operators.corpus import decontaminate

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        )
        corpus = spark.createDataFrame(
            [
                # contains 'quick brown fox jumps' (n=4) twice → counts ONCE
                (1, "quick brown fox jumps and quick brown fox jumps again"),
                (2, "totally different words here entirely unrelated text"),
                (3, "over the lazy dog"),
            ],
            ["doc_id", "text"],
        )
        got = {r.doc_id: r.n_shared for r in decontaminate(corpus, bench, n=4).collect()}
        # doc 1 shares exactly 'quick brown fox jumps' — repeated in the
        # doc, but distinct grams count once
        assert got[1] == 1
        assert 2 not in got  # clean docs absent (inner-join contract)
        assert got[3] == 1   # exactly the one shared 4-gram

    def test_plan_broadcasts_benchmark(self, spark):
        from data_engineering_hs_spark.catalog import load_table
        from data_engineering_hs_spark.operators.corpus import decontaminate

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        plan = decontaminate(
            d, d.limit(20), "text", "doc_id", n=4
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestWeightedQuotaSample:
    def test_exact_quotas_and_drop_unlisted(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            weighted_quota_sample,
        )

        df = spark.createDataFrame(
            [(i, ["web", "code", "books"][i % 3]) for i in range(90)],
            ["doc_id", "source"],
        )
        out = weighted_quota_sample(
            df, "source", "doc_id", {"web": 7, "code": 3}
        )
        counts = {r.source: r.n for r in out.groupBy("source").agg(
            F.count("*").alias("n")).collect()}
        assert counts == {"web": 7, "code": 3}  # books dropped entirely

    def test_quota_larger_than_stratum_takes_all(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            weighted_quota_sample,
        )

        df = spark.createDataFrame(
            [(1, "web"), (2, "web")], ["doc_id", "source"]
        )
        assert weighted_quota_sample(
            df, "source", "doc_id", {"web": 99}
        ).count() == 2

    def test_deterministic_across_partitionings(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            weighted_quota_sample,
        )

        df = spark.createDataFrame(
            [(i, f"s{i % 4}") for i in range(200)], ["doc_id", "source"]
        )
        quotas = {"s0": 5, "s1": 10, "s3": 1}
        a = {r.doc_id for r in weighted_quota_sample(
            df, "source", "doc_id", quotas).collect()}
        b = {r.doc_id for r in weighted_quota_sample(
            df.repartition(17), "source", "doc_id", quotas).collect()}
        assert a == b and len(a) == 16


class TestChunkDocuments:
    def test_windows_overlap_and_tail(self, spark):
        from data_engineering_hs_spark.operators.corpus import chunk_documents

        text = " ".join(f"w{i}" for i in range(1, 21))  # 20 tokens
        df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                                   ["doc_id", "text"])
        rows = sorted(
            chunk_documents(df, chunk_tokens=8, overlap=2).collect(),
            key=lambda r: (r.doc_id, r.chunk_id),
        )
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc 1: candidate starts 1,7,13,19; 19 > 20-2 is suppressed
        # (tokens 19-20 already inside the chunk starting at 13)
        c = by_doc[1]
        assert [r.chunk_id for r in c] == [0, 1, 2]
        assert c[0].chunk_text.split() == [f"w{i}" for i in range(1, 9)]
        # consecutive chunks share exactly `overlap` tokens
        assert c[0].chunk_text.split()[-2:] == c[1].chunk_text.split()[:2]
        assert c[2].chunk_text.split() == [f"w{i}" for i in range(13, 21)]
        assert [r.n_tokens for r in c] == [8, 8, 8]
        # every token covered
        covered = {t for r in c for t in r.chunk_text.split()}
        assert covered == {f"w{i}" for i in range(1, 21)}
        # doc 2 shorter than one chunk → exactly one chunk
        assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 2
        # empty doc emits nothing
        assert 3 not in by_doc

    def test_no_redundant_tail_chunk(self, spark):
        from data_engineering_hs_spark.operators.corpus import chunk_documents

        # 10 tokens, chunk 8, overlap 4 → start 5 would add tokens
        # 5..10 (2 new); start 9 > 10-4 suppressed
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(10)))], ["doc_id", "text"]
        )
        out = chunk_documents(df, chunk_tokens=8, overlap=4).collect()
        assert [r.chunk_id for r in sorted(out, key=lambda r: r.chunk_id)] == [0, 1]

    def test_overlap_validation(self, spark):
        import pytest as _pytest

        from data_engineering_hs_spark.operators.corpus import chunk_documents

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, overlap=4)
        # negative overlap makes stride > chunk_tokens: tokens between
        # chunks would appear in NO chunk — must raise, not skip data
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, overlap=-1)


class TestPackSequences:
    def test_bins_respect_capacity_and_order(self, spark):
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        df = spark.createDataFrame(
            [(i, 300) for i in range(20)], ["doc_id", "n_tokens"]
        )
        out = pack_sequences(df, target=1000, shards=1).collect()
        by_bin = {}
        for r in out:
            by_bin.setdefault((r.shard, r.bin_id), []).append(r)
        for members in by_bin.values():
            assert sum(m.size for m in members) <= 1000
        # 300*3=900 fits, 4th would overflow → bins of 3 (id order)
        sizes = sorted(len(m) for m in by_bin.values())
        assert sizes == [2, 3, 3, 3, 3, 3, 3]
        ids_in_bins = [sorted(m.id for m in members)
                       for _, members in sorted(by_bin.items())]
        assert ids_in_bins[0] == [0, 1, 2]  # sequential id order

    def test_preserves_string_id_type(self, spark):
        # Same contract as mmr_select: the output id column keeps the
        # input id type — the old LongType literal turned string ids
        # into NULLs via the cast.
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        df = spark.createDataFrame(
            [(f"doc-{i:02d}", 300) for i in range(4)], ["doc_id", "n_tokens"]
        )
        out = pack_sequences(df, target=1000, shards=1).collect()
        assert {r.id for r in out} == {f"doc-{i:02d}" for i in range(4)}
        assert all(r.id is not None for r in out)
        # packed in id order within the shard: first bin holds the
        # three lexicographically-smallest ids
        first_bin = sorted(r.id for r in out if r.bin_id == 0)
        assert first_bin == ["doc-00", "doc-01", "doc-02"]

    def test_oversize_item_sits_alone(self, spark):
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        df = spark.createDataFrame(
            [(1, 100), (2, 5000), (3, 100)], ["doc_id", "n_tokens"]
        )
        out = {r.id: r for r in pack_sequences(df, target=1000, shards=1).collect()}
        assert out[2].oversize
        bins = {}
        for r in out.values():
            bins.setdefault(r.bin_id, []).append(r.id)
        assert bins[out[2].bin_id] == [2]  # alone
        assert not out[1].oversize and not out[3].oversize

    def test_null_size_rejected_loudly(self, spark):
        # r12: a null size arrives as NaN (Arrow int64-with-nulls →
        # float64) and NaN comparisons are all False — before the
        # guard, ONE null-size row silently packed every later item in
        # the shard into a single over-capacity bin
        import pytest

        from data_engineering_hs_spark.operators.corpus import pack_sequences

        df = spark.createDataFrame(
            [(1, 1500), (2, None), (3, 1500), (4, 1500)],
            "doc_id long, n_tokens long",
        )
        with pytest.raises(Exception, match="null size"):
            pack_sequences(df, target=2048, shards=1).collect()

    def test_deterministic_and_count_preserving(self, spark):
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        df = spark.createDataFrame(
            [(i, 1 + (i * 37) % 500) for i in range(300)],
            ["doc_id", "n_tokens"],
        )
        a = sorted(map(tuple, pack_sequences(df, target=600).collect()))
        b = sorted(map(tuple, pack_sequences(df.repartition(13), target=600).collect()))
        assert a == b and len(a) == 300


class TestProfiling:
    def test_profile_stats_and_single_scan(self, spark):
        from data_engineering_hs_spark.quality.profiling import profile_table

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b")], ["k", "v"]
        )
        prof = {r.column: r for r in profile_table(df).collect()}
        assert prof["k"].n_rows == 3 and prof["k"].n_nulls == 0
        assert prof["k"].n_distinct == 2
        assert (prof["k"].min_str, prof["k"].max_str) == ("1", "2")
        assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2
        # one scan: a single aggregate, no union of per-column jobs
        plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan") <= 2 and "Union" not in plan

    def test_key_skew_flags_hot_key(self, spark):
        from data_engineering_hs_spark.quality.profiling import key_skew_stats

        rows = [(1,)] * 90 + [(k,) for k in range(2, 12)]
        df = spark.createDataFrame(rows, ["k"])
        s = key_skew_stats(df, "k").collect()[0]
        assert s.n_keys == 11 and s.n_rows == 100
        assert s.top1_cnt == 90 and s.max_share_ppm == 900_000
        # nearest-rank p99: position ceil(0.99*11)=11 of the sorted
        # counts [1x10, 90] -> 90; and every output is an integer
        assert s.p99_cnt == 90
        assert all(
            isinstance(v, int) for v in s.asDict().values()
        ), "key_skew_stats must emit only integers (hash-exact oracle)"


class TestRetentionCohorts:
    def test_week_zero_covers_every_user(self, spark):
        from data_engineering_hs_spark.queries.registry import REGISTRY
        from data_engineering_hs_spark.queries import load_all

        load_all()
        out = REGISTRY["a_retention_cohorts"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        # every user appears in their own cohort at offset 0, so the
        # offset-0 user total equals the distinct-user count
        week0 = sum(r.n_users for r in out if r.week_offset == 0)
        from data_engineering_hs_spark.catalog import load_table

        n_users = (
            load_table(spark, "/root/testdata/sf0.001", "events")
            .select("user_id").distinct().count()
        )
        assert week0 == n_users
        assert all(r.week_offset >= 0 for r in out)


class TestSchemaDrift:
    def test_added_removed_type_changed(self, spark):
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.quality.profiling import schema_drift

        old = T2.StructType(
            [
                T2.StructField("a", T2.LongType()),
                T2.StructField("b", T2.StringType()),
                T2.StructField("c", T2.DoubleType()),
            ]
        )
        new = T2.StructType(
            [
                T2.StructField("a", T2.LongType()),
                T2.StructField("b", T2.IntegerType()),
                T2.StructField("d", T2.StringType()),
            ]
        )
        got = schema_drift(old, new)
        assert got == [
            {"column": "d", "change": "added", "type": "string"},
            {"column": "c", "change": "removed", "type": "double"},
            {"column": "b", "change": "type_changed", "type": "string -> int"},
        ]

    def test_identical_schemas_no_drift(self, spark):
        from data_engineering_hs_spark.catalog import load_table
        from data_engineering_hs_spark.quality.profiling import schema_drift
        from tests.conftest import SF001

        sch = load_table(spark, SF001, "orders").schema
        assert schema_drift(sch, sch) == []

    def test_freshness_statuses(self, spark):
        import datetime as dt

        from data_engineering_hs_spark.quality.profiling import freshness

        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 0, 0, 0),)], "ts timestamp"
        )
        fresh = freshness(df, "ts", as_of="2024-01-01 12:00:00").first()
        assert fresh.status == "pass" and fresh.lag_seconds == 12 * 3600
        warn = freshness(df, "ts", as_of="2024-01-03 00:00:00").first()
        assert warn.status == "warn"
        err = freshness(df, "ts", as_of="2024-02-01 00:00:00").first()
        assert err.status == "error"


class TestProductQuantization:
    def _setup(self, spark):
        from data_engineering_hs_spark.operators.similarity import pq_train

        e = spark.read.parquet(f"{SF001}/embeddings.parquet")
        return e, pq_train(e, iters=3)

    def test_codebook_shape(self, spark):
        e, cb = self._setup(spark)
        rows = cb.collect()
        assert len(rows) == 8 * 16
        assert all(len(r["centroid"]) == 8 for r in rows)

    def test_codes_pack_into_32_bits(self, spark):
        from data_engineering_hs_spark.operators.similarity import pq_encode

        e, cb = self._setup(spark)
        codes = pq_encode(e, cb)
        assert codes.count() == e.count()
        mn, mx = codes.agg(F.min("pq_code"), F.max("pq_code")).first()
        assert 0 <= mn and mx < (1 << 32)

    def test_ivf_adc_full_probe_equals_pq(self, spark):
        # nprobe >= n_cells restores the full candidate set, so
        # IVF-ADC must equal standalone pq_topk exactly — cell
        # pruning is the ONLY divergence point in the composition.
        from data_engineering_hs_spark.operators.similarity import (
            centroids,
            ivf_adc_topk,
            pq_topk,
        )

        e, cb = self._setup(spark)
        cents = centroids(e)
        n_cells = cents.count()
        q = e.filter(F.col("vec_id") < 5)
        pq = {
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in pq_topk(e, q, cb, k=5, shortlist=50).collect()
        }
        adc = {
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_adc_topk(
                e, q, cents, cb, k=5, nprobe=n_cells, shortlist=50
            ).collect()
        }
        assert adc == pq
        assert len(adc) == 25  # 5 queries x k=5

    def test_ivf_adc_neighbors_come_from_probed_cells(self, spark):
        # with nprobe < n_cells every returned neighbor must live in
        # one of its query's probed cells — the pruning contract.
        from data_engineering_hs_spark.operators.similarity import (
            centroids,
            ivf_adc_topk,
        )

        e, cb = self._setup(spark)
        cents = centroids(e).collect()
        import math

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb) if na and nb else 0.0

        vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}

        def top_cells(v, n):
            sims = sorted(
                ((cos(v, r["centroid"]), -r["label"]) for r in cents),
                reverse=True,
            )
            return {-lbl for _s, lbl in sims[:n]}

        cents_df = spark.createDataFrame(
            [(r["label"], r["centroid"]) for r in cents],
            "label int, centroid array<double>",
        )
        q = e.filter(F.col("vec_id") < 3)
        out = ivf_adc_topk(e, q, cents_df, cb, k=5, nprobe=2, shortlist=50)
        for r in out.collect():
            probed = top_cells(vecs[r["query_id"]], 2)
            neigh_cell = max(
                ((cos(vecs[r["neighbor_id"]], c["centroid"]), -c["label"])
                 for c in cents),
            )
            assert -neigh_cell[1] in probed, (
                f"neighbor {r['neighbor_id']} outside probed cells"
            )

    def test_code_store_pruned_read_matches_inline(self, spark, tmp_path):
        # the cell-partitioned code store must (a) return the same
        # top-k as the inline encode-at-query-time path, (b) prune the
        # scan to the probed cells (PartitionFilters — non-probed
        # cells' files never open), (c) lay out one file per cell.
        import os

        from data_engineering_hs_spark.operators.similarity import (
            build_pq_code_store,
            centroids,
            ivf_adc_topk,
            read_cell_store,
        )

        e, cb = self._setup(spark)
        cents = centroids(e)
        store = str(tmp_path / "pq_store")
        build_pq_code_store(e, cents, cb, store)
        # layout: one parquet file per cell directory
        cell_dirs = [d for d in os.listdir(store) if d.startswith("cell=")]
        assert len(cell_dirs) == cents.count()
        for d in cell_dirs:
            files = [
                f
                for f in os.listdir(os.path.join(store, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: {files}"
        # pruned read: literal IN-filter on the partition column must
        # reach the scan as a PartitionFilter, not a post-scan filter
        pruned = read_cell_store(spark, store, [1, 3])
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cell" in plan
        assert pruned.select("cell").distinct().count() == 2
        # store path ≡ inline path at the same probe width
        q = e.filter(F.col("vec_id") < 3)
        inline = {
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_adc_topk(
                e, q, cents, cb, k=5, nprobe=2, shortlist=50
            ).collect()
        }
        stored = {
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_adc_topk(
                e, q, cents, cb, k=5, nprobe=2, shortlist=50,
                code_store=store,
            ).collect()
        }
        assert stored == inline and len(stored) == 15

    def test_store_meta_mismatch_raises(self, spark, tmp_path):
        # a store whose codes were packed with another PQ geometry must
        # refuse a query — decoding them against this module's LUT
        # would score garbage silently
        import pytest

        from data_engineering_hs_spark.operators.similarity import (
            build_ivf_store,
            build_pq_code_store,
            centroids,
            ivf_adc_topk,
        )
        from data_engineering_hs_spark.sources.parquet import (
            STORE_META,
            read_sidecar,
            write_sidecar,
        )

        e, cb = self._setup(spark)
        cents = centroids(e)
        q = e.filter(F.col("vec_id") < 2)
        store = str(tmp_path / "pq_store_meta")
        build_pq_code_store(e, cents, cb, store)
        meta = read_sidecar(store, STORE_META)
        assert (meta["m"], meta["bits"]) == (8, 4)
        write_sidecar(store, STORE_META, {**meta, "bits": 8})
        with pytest.raises(ValueError, match="different parameters"):
            ivf_adc_topk(e, q, cents, cb, nprobe=2, code_store=store)
        # an IVF-Flat store read as a code store: the recorded kind
        # differs, so the query refuses instead of decoding vectors
        vstore = str(tmp_path / "ivf_store_meta")
        build_ivf_store(e, cents, vstore)
        with pytest.raises(ValueError, match="kind: store='ivf_flat'"):
            ivf_adc_topk(e, q, cents, cb, nprobe=2, code_store=vstore)

    def test_store_meta_write_failure_is_loud_on_local_paths(
        self, spark, tmp_path
    ):
        # a failed sidecar write on a LOCAL path must raise (swallowing
        # it silently disables the kind/geometry guard); a non-local URI
        # stays best-effort (the documented degradation)
        import pytest

        from data_engineering_hs_spark.sources.parquet import (
            STORE_META,
            write_sidecar,
        )

        with pytest.raises(OSError):
            write_sidecar(str(tmp_path / "no_such_dir"), STORE_META, {"kind": "x"})
        # non-local URI: no sidecar, no error
        write_sidecar("s3a://bucket/store", STORE_META, {"kind": "x"})

    def test_append_equals_rebuild(self, spark, tmp_path):
        # incremental maintenance must be indistinguishable from a
        # rebuild: build from 80% of the corpus, append the remaining
        # 20%, and the store contents equal a from-scratch build of
        # the full corpus row for row (same assignment path via
        # _assign_cells, column names from the meta)
        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
            centroids,
        )

        e, _cb = self._setup(spark)
        cents = centroids(e)
        cut = int(e.count() * 0.8)
        base = e.filter(F.col("vec_id") < cut)
        inc = e.filter(F.col("vec_id") >= cut)

        ivf_grown = str(tmp_path / "ivf_grown")
        ivf_full = str(tmp_path / "ivf_full")
        build_ivf_store(base, cents, ivf_grown)
        append_to_cell_store(inc, cents, ivf_grown)
        build_ivf_store(e, cents, ivf_full)
        key = lambda r: (r["vec_id"], r["cell"], tuple(r["embedding"]))
        grown_v = {key(r) for r in spark.read.parquet(ivf_grown).collect()}
        full_v = {key(r) for r in spark.read.parquet(ivf_full).collect()}
        assert grown_v == full_v and len(full_v) == e.count()

    def test_stale_store_corpus_raises_and_append_heals(
        self, spark, tmp_path
    ):
        # the staleness guard: a store built from last month's corpus
        # must not silently serve a corpus that has since changed
        import pytest

        from data_engineering_hs_spark.operators.similarity import (
            _verify_store_corpus,
            append_to_cell_store,
            build_ivf_store,
            build_pq_code_store,
            centroids,
            ivf_adc_topk,
        )

        e, cb = self._setup(spark)
        cents = centroids(e)
        cut = int(e.count() * 0.8)
        base = e.filter(F.col("vec_id") < cut)
        inc = e.filter(F.col("vec_id") >= cut)
        q = e.filter(F.col("vec_id") < 2)

        store = str(tmp_path / "pq_stale")
        build_pq_code_store(base, cents, cb, store)
        # grown corpus vs base-built store: loud
        with pytest.raises(ValueError, match="different corpus"):
            ivf_adc_topk(e, q, cents, cb, nprobe=2, code_store=store)
        # matching corpus: fine
        ivf_adc_topk(base, q, cents, cb, nprobe=2, code_store=store).count()

        # an IVF-Flat store heals by append: the stamp folds the
        # increment in, so the grown corpus now verifies (and the base
        # corpus no longer does) — the check s_ivf_store_append runs
        vstore = str(tmp_path / "ivf_stale")
        build_ivf_store(base, cents, vstore)
        with pytest.raises(ValueError, match="different corpus"):
            _verify_store_corpus(e, vstore)
        append_to_cell_store(inc, cents, vstore)
        _verify_store_corpus(e, vstore)
        with pytest.raises(ValueError, match="different corpus"):
            _verify_store_corpus(base, vstore)

    def test_append_refuses_without_meta_or_codebooks(
        self, spark, tmp_path
    ):
        import os

        import pytest

        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_pq_code_store,
            centroids,
        )

        e, cb = self._setup(spark)
        cents = centroids(e)
        inc = e.filter(F.col("vec_id") < 10)
        store = str(tmp_path / "pq_meta")
        build_pq_code_store(e, cents, cb, store)

        def files():
            return sorted(
                (os.path.join(r, f), os.path.getsize(os.path.join(r, f)))
                for r, _, fs in os.walk(store)
                for f in fs
            )

        # a code store is write-once: append refuses it by kind,
        # before any write
        before = files()
        with pytest.raises(ValueError, match="'pq_code'"):
            append_to_cell_store(inc, cents, store)
        assert files() == before
        os.remove(os.path.join(store, "_store_meta.json"))
        with pytest.raises(ValueError, match="no readable"):
            append_to_cell_store(inc, cents, store)

    def test_store_sidecar_works_on_file_uri(self, spark, tmp_path):
        # Spark's writers accept file:// URIs but plain open() does
        # not parse them: before r12 a build at file:///... completed
        # the distributed parquet write then died on the sidecar write
        # with a raw FileNotFoundError. The scheme is now stripped for
        # sidecar I/O, so the whole store lifecycle works at file://
        # and the sidecar lands beside (and is found beside) the data.
        import os

        from data_engineering_hs_spark.operators.similarity import (
            _check_store_meta,
            _verify_store_corpus,
            build_ivf_store,
            centroids,
        )

        e, _cb = self._setup(spark)
        cents = centroids(e)
        local = str(tmp_path / "ivf_file_uri")
        store_uri = "file://" + local
        build_ivf_store(e, cents, store_uri)
        assert os.path.exists(os.path.join(local, "_store_meta.json"))
        # query path finds the sidecar through the URI spelling too:
        # a recorded geometry that differs raises instead of silently
        # skipping
        import pytest

        from data_engineering_hs_spark.sources.parquet import (
            STORE_META,
            read_sidecar,
            write_sidecar,
        )

        _check_store_meta(store_uri, "ivf_flat")
        meta = read_sidecar(store_uri, STORE_META)
        write_sidecar(store_uri, STORE_META, {**meta, "m": 4})
        with pytest.raises(ValueError, match="different parameters.*m: store=4 caller=8"):
            _check_store_meta(store_uri, "ivf_flat")
        # and the corpus stamp is read through it: the served corpus
        # verifies, a shrunk one is refused
        _verify_store_corpus(e, store_uri)
        with pytest.raises(ValueError, match="different corpus"):
            _verify_store_corpus(e.limit(5), store_uri)

    def test_append_single_writer_tripwire(
        self, spark, tmp_path, monkeypatch
    ):
        # a concurrent writer touching the sidecar between this
        # append's read and its stamp write must raise (last-writer-
        # wins would lose the other's XOR fold and the corpus stamp
        # check would then falsely refuse a complete store) — and must NOT
        # overwrite the interloper's sidecar
        import json
        import os

        import pytest

        from data_engineering_hs_spark.operators import similarity as sim

        e, _cb = self._setup(spark)
        cents = sim.centroids(e)
        n = e.count()
        store = str(tmp_path / "ivf_racy")
        sim.build_ivf_store(e.filter(F.col("vec_id") < n * 0.8), cents, store)
        meta_path = os.path.join(store, "_store_meta.json")

        real_write = sim._cell_write

        def racy_write(*args, **kwargs):
            # simulate a concurrent append finishing mid-flight: the
            # sidecar changes after this append read it
            interloper = json.load(open(meta_path))
            interloper["corpus_n"] += 1
            json.dump(interloper, open(meta_path, "w"))
            return real_write(*args, **kwargs)

        monkeypatch.setattr(sim, "_cell_write", racy_write)
        inc = e.filter(F.col("vec_id") >= n * 0.8)
        with pytest.raises(RuntimeError, match="single-writer"):
            sim.append_to_cell_store(inc, cents, store)
        # the interloper's stamp survives — the loser did not clobber it
        assert json.load(open(meta_path))["corpus_n"] == int(n * 0.8) + 1
        # the increment's rows DID land (parquet appends don't collide)
        assert spark.read.parquet(store).count() == n

    def test_code_store_empty_probe_list_is_empty(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.similarity import (
            build_pq_code_store,
            centroids,
            read_cell_store,
        )

        e, cb = self._setup(spark)
        store = str(tmp_path / "pq_store_empty_probe")
        build_pq_code_store(e, centroids(e), cb, store)
        assert read_cell_store(spark, store, []).count() == 0

    def test_inline_path_prunes_before_encode(self, spark):
        # the probed-cell semi-join must restrict the corpus BEFORE
        # pq_encode's ×m subspace explode: with one probed cell the
        # decoded row count is that cell's size × m, not corpus × m.
        # Proven via the encode input: a corpus row outside every
        # probed cell must not reach the LUT join, so the ADC scores
        # only probed-cell neighbors (the containment test) AND the
        # plan carries the semi-join below the aggregate.
        from data_engineering_hs_spark.operators.similarity import (
            centroids,
            ivf_adc_topk,
        )

        e, cb = self._setup(spark)
        cents = centroids(e)
        q = e.filter(F.col("vec_id") < 1)
        out = ivf_adc_topk(e, q, cents, cb, k=5, nprobe=1, shortlist=50)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the pruning semi-join plans as LeftSemi below the encode agg
        assert "LeftSemi" in plan
        assert out.count() == 5

    def test_recall_floor_and_shortlist_monotone(self, spark):
        # measured recall@5 at 20 queries on the isotropic sf0.01
        # embeddings: shortlist 20 -> ~0.53, 50 -> ~0.73, 100 -> ~0.84.
        # Pin a conservative floor + the shortlist-depth monotonicity
        # that makes PQ+rerank converge to brute force.
        from data_engineering_hs_spark.operators.similarity import (
            brute_force_topk,
            pq_topk,
        )

        e, cb = self._setup(spark)
        q = e.filter(F.col("vec_id") < 20)
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(e, q, k=5).collect()
        }

        def recall(shortlist):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in pq_topk(e, q, cb, k=5, shortlist=shortlist).collect()
            }
            return len(truth & got) / len(truth)

        r20, r100 = recall(20), recall(100)
        assert r100 >= 0.5, f"PQ recall@5 shortlist=100 {r100}"
        assert r100 >= r20

    def test_rerank_scores_are_exact(self, spark):
        # the reported cos_sim comes from the full-precision rerank,
        # so every returned (query, neighbor) pair must carry exactly
        # the brute-force cosine for that pair
        from data_engineering_hs_spark.operators.similarity import (
            brute_force_topk,
            pq_topk,
        )

        e, cb = self._setup(spark)
        q = e.filter(F.col("vec_id") < 5)
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cos_sim"]
            for r in brute_force_topk(e, q, k=e.count()).collect()
        }
        for r in pq_topk(e, q, cb, k=5, shortlist=50).collect():
            assert r["cos_sim"] == exact[(r["query_id"], r["neighbor_id"])]


class TestFeatureHash:
    def test_identical_text_identical_vector_and_determinism(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            feature_hash_counts,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma alpha"),
                (2, "alpha beta gamma alpha"),  # byte-identical
                (3, "delta epsilon"),
            ],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: (tuple(r["indices"]), tuple(r["counts"]))
            for r in feature_hash_counts(docs, dim=64).collect()
        }
        assert rows[1] == rows[2]
        assert rows[1] != rows[3]
        assert sum(rows[1][1]) == 4  # L1 == token count
        # indices sorted and within dim
        assert list(rows[1][0]) == sorted(rows[1][0])
        assert all(0 <= i < 64 for i in rows[1][0])

    def test_collisions_conserve_l1(self, spark):
        from data_engineering_hs_spark.operators.corpus import (
            feature_hash_counts,
        )

        # dim=2 forces heavy collisions; L1 must still equal n_tokens
        docs = spark.createDataFrame(
            [(1, " ".join(f"tok{i}" for i in range(50)))],
            ["doc_id", "text"],
        )
        r = feature_hash_counts(docs, dim=2).collect()[0]
        assert sum(r["counts"]) == 50
        assert len(r["indices"]) <= 2


class TestMmrSelect:
    def test_mmr_skips_near_duplicate_of_first_pick(self, spark):
        """Pick 1 is the most relevant; pick 2 must NOT be its
        near-duplicate even though that has the 2nd-highest relevance
        — the diversity penalty has to dominate. Also pins the
        (pick, vec_id, rel) contract and driver-side greedy parity
        with the old engine-side loop."""
        from data_engineering_hs_spark.operators.similarity import mmr_select

        rows = [
            (0, [1.0, 0.0, 0.0]),          # query
            (1, [0.99, 0.14, 0.0]),        # most relevant
            (2, [0.98, 0.2, 0.0]),         # near-dup of 1
            (3, [0.7, 0.0, 0.7]),          # diverse, decent rel
            (4, [0.6, 0.0, -0.8]),         # diverse, lower rel
        ]
        e = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = mmr_select(e, query_vec_id=0, pool=4, k=3, lam=0.5).collect()
        picks = {r["pick"]: r["vec_id"] for r in out}
        assert picks[1] == 1
        assert picks[2] == 3  # not the near-duplicate (2)
        assert len(out) == 3 and all(r["rel"] is not None for r in out)

    def test_mmr_pool_smaller_than_k(self, spark):
        from data_engineering_hs_spark.operators.similarity import mmr_select

        rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])]
        e = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = mmr_select(e, query_vec_id=0, pool=8, k=5, lam=0.7).collect()
        # only 2 candidates exist; selection stops there
        assert sorted(r["pick"] for r in out) == [1, 2]

    def test_mmr_preserves_string_id_type(self, spark):
        # Generic library operator: the output vec_id type must mirror
        # the input id column — a string-keyed corpus previously died
        # at createDataFrame against a hardcoded bigint schema.
        from pyspark.sql import types as T

        from data_engineering_hs_spark.operators.similarity import mmr_select

        rows = [
            ("q", [1.0, 0.0]),
            ("doc-a", [0.9, 0.1]),
            ("doc-b", [0.0, 1.0]),
        ]
        e = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = mmr_select(e, query_vec_id="q", pool=4, k=2, lam=0.7)
        assert isinstance(out.schema["vec_id"].dataType, T.StringType)
        got = {r["pick"]: r["vec_id"] for r in out.collect()}
        assert got[1] == "doc-a" and got[2] == "doc-b"

    def test_mmr_empty_pool_returns_typed_empty_frame(self, spark):
        from data_engineering_hs_spark.operators.similarity import mmr_select

        e = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
        out = mmr_select(e, query_vec_id=0, pool=4, k=2)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["pick", "vec_id", "rel"]


class TestCountMinSketch:
    def test_overestimate_and_exactness_without_collisions(self, spark):
        from data_engineering_hs_spark.operators.sketch import (
            cms_build,
            cms_estimate,
        )

        rows = [(k,) for k in ["a"] * 50 + ["b"] * 7 + ["c"] * 1]
        df = spark.createDataFrame(rows, ["k"])
        sk = cms_build(df, "k", depth=4, width=1024)
        est = {
            r["k"]: r["est"]
            for r in cms_estimate(sk, df, "k", depth=4, width=1024).collect()
        }
        # overestimate guarantee; at 3 keys x 1024 cells collisions
        # are absent in every depth row, so estimates are exact
        assert est == {"a": 50, "b": 7, "c": 1}

    def test_unseen_key_estimates_zero_when_no_collision(self, spark):
        from data_engineering_hs_spark.operators.sketch import (
            cms_build,
            cms_estimate,
        )

        df = spark.createDataFrame([(1,), (2,)], ["k"])
        sk = cms_build(df, "k", depth=4, width=4096)
        probe = spark.createDataFrame([(99,)], ["k"])
        est = cms_estimate(sk, probe, "k", depth=4, width=4096).collect()
        assert est[0]["est"] == 0
