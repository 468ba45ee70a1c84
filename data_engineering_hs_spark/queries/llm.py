"""LLM-training-data pipeline queries: text analysis, dedup,
similarity search over `documents` / `embeddings` (BASELINE.json
north star; SURVEY.md §7 step 8).

Oracle determinism: integer-ratio doubles are emitted as single
divisions (bit-identical); cosine oracles are generated as explicit
left-to-right 64-term sums matching the Spark fold order exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.functions import text as TX
from data_engineering_hs_spark.functions.scalar import stable_round
from data_engineering_hs_spark.operators import dedup as D
from data_engineering_hs_spark.operators import similarity as S
from data_engineering_hs_spark.queries.registry import register, stable_round_sql

EMBED_DIM = 64


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "t_text_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN length(trim(text, ' ')) = 0 THEN 0
                ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END) AS BIGINT)
         AS total_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(MAX(length(text)) AS BIGINT) AS max_chars,
       CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
""",
    doc="corpus token/char statistics by language (token counting for "
    "training-data budgeting)",
    bench=True,
)
def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).cast("long").alias("total_tokens"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.max(F.length("text")).cast("long").alias("max_chars"),
            (F.sum(F.length("text")).cast("double") / F.count("*")).alias("avg_chars"),
        )
        .orderBy("lang")
    )


@register(
    "t_quality_components",
    oracle="""
SELECT doc_id,
       CASE WHEN length(trim(text, ' ')) = 0 THEN 0
            ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END AS n_tokens,
       length(text) AS n_chars_exact,
       CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS punct_ratio,
       CAST(length(regexp_replace(trim(text, ' '), '\\s', '', 'g')) AS DOUBLE)
         / greatest(CASE WHEN length(trim(text, ' ')) = 0 THEN 0
                    ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END, 1)
         AS mean_word_len
FROM documents
""",
    doc="per-document quality components: token count, punctuation "
    "ratio, mean word length (quality scoring for corpus filtering)",
)
def t_quality_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = TX.token_count("text")
    non_space = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s", ""))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_exact"),
        (
            F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        (non_space.cast("double") / F.greatest(n_tok, F.lit(1))).alias("mean_word_len"),
    )


@register(
    "t_langid",
    # The heuristic is pure Column algebra (functions/text.py:lang_id),
    # so the oracle restates it term-by-term in DuckDB. Tie-break
    # mirrors Spark's array_max over struct(n, lang): max count, then
    # lexicographically greatest language code — the CASE checks zh →
    # fr → es → en → de with >= so each branch wins exactly the ties
    # Spark would give it.
    oracle="""
WITH t AS (
  SELECT doc_id, lang, text,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> ''),
                                  x -> lower(x)) END AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(
      ['the','and','of','to','is','in','that','it','was','for'], x))) AS en,
    len(list_filter(toks, x -> list_contains(
      ['el','la','de','que','y','los','las','por','una','es'], x))) AS es,
    len(list_filter(toks, x -> list_contains(
      ['der','die','und','das','ist','nicht','ein','mit','den','zu'], x))) AS de,
    len(list_filter(toks, x -> list_contains(
      ['le','la','les','des','est','une','dans','pour','que','qui'], x))) AS fr,
    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh
  FROM t
)
SELECT doc_id, lang,
  CASE WHEN greatest(en, es, de, fr, zh) > 0 THEN
    CASE WHEN zh >= greatest(en, es, de, fr) THEN 'zh'
         WHEN fr >= greatest(en, es, de) THEN 'fr'
         WHEN es >= greatest(en, de) THEN 'es'
         WHEN en >= de THEN 'en'
         ELSE 'de' END
  ELSE 'und' END AS pred_lang
FROM s
""",
    doc="n-gram/stopword language-ID heuristic per document",
)
def t_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TX.lang_id("text").alias("pred_lang"))


_STOPWORD_SQL_LIST = "[" + ", ".join(f"'{w}'" for w in TX.STOPWORDS) + "]"

@register(
    "t_quality_score",
    # The composite is engine-DEFINED but fully SQL-EXPRESSIBLE: the
    # oracle re-states the documented formula (functions/text.py:71)
    # term by term in DuckDB, mirroring the Spark evaluation order so
    # the doubles agree bit-for-bit before the final round(…, 6).
    oracle=f"""
WITH c AS (
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0 THEN 0
              ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END AS n_tok,
         CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS pr,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '') END AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) AS len_score,
         1.0 - least(pr * 5.0, 1.0) AS punct_score,
         CAST(len(list_filter(toks,
                t -> list_contains({_STOPWORD_SQL_LIST}, lower(t)))) AS DOUBLE)
           / CAST(greatest(len(toks), 1) AS DOUBLE) AS sw
  FROM c
)
SELECT doc_id,
       {stable_round_sql(
           "(len_score + punct_score"
           " + greatest(1.0 - abs(sw - 0.25) * 2.0, 0.0)) / 3.0", 6)}
         AS quality
FROM s
""",
    doc="composite document quality score (length/punct/stopword mix)",
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score("text").alias("quality"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "d_exact_dup_summary",
    oracle="""
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')))
         AS n_distinct,
       COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')))
         AS n_dup_surplus
FROM documents
""",
    doc="exact dedup via normalized-text fingerprint groupBy (hash dedup)",
)
def d_exact_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(D.normalized_text("text"))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_distinct"),
        (F.count("*") - F.countDistinct(fp)).alias("n_dup_surplus"),
    )


@register(
    "d_incremental_dedup",
    oracle=r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS norm
  FROM documents
),
store AS (SELECT DISTINCT norm FROM n WHERE doc_id % 2 = 0),
batch AS (SELECT doc_id, norm FROM n WHERE doc_id % 2 = 1),
first AS (
  SELECT doc_id, norm FROM (
    SELECT doc_id, norm,
           ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM batch) t
  WHERE rn = 1
)
SELECT doc_id FROM first WHERE norm NOT IN (SELECT norm FROM store)
""",
    doc="incremental exact dedup: new-batch survivors (odd doc_ids) "
    "against an existing fingerprint store (even doc_ids) — the "
    "batch-over-batch corpus-growth path; anti-join on 8-byte "
    "fingerprints, only the increment is scanned "
    "(oracle compares normalized text directly since xxhash64 is "
    "Spark-specific; collision-free at these cardinalities)",
)
def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    store = d.filter(F.col("doc_id") % 2 == 0).select(
        TX.fingerprint64("text").alias("fingerprint")
    )
    batch = d.filter(F.col("doc_id") % 2 == 1)
    return D.incremental_exact_dedup(batch, store, "text", "doc_id").select(
        "doc_id"
    )


@register(
    "d_incremental_lsh",
    # A doc byte-identical to a store doc has the identical MinHash
    # signature, hence identical band buckets, so the increment's
    # band join against the persisted store MUST surface the cross
    # pair — without re-signaturing the corpus. The query plants a
    # copy of every 10th eligible store doc (doc_id%10==0, >=3
    # tokens) into the new batch under doc_id + max(id)+1 (derived,
    # collision-free at any corpus size); the oracle counts the
    # planted cross-boundary ground truth.
    oracle=r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_cross,
       CAST(COUNT(*) AS BIGINT) AS n_found_cross,
       TRUE AS complete_ok
FROM documents
WHERE doc_id % 10 = 0
  AND length(trim(text, ' ')) > 0
  AND len(list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '')) >= 3
""",
    doc="incremental MinHash-LSH: near-dup candidate pairs of a new "
    "batch against the even-doc_id corpus's persisted band-bucket "
    "store — no corpus re-signaturing; emitted as the cross-boundary "
    "planted-duplicate completeness audit",
)
def d_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store_docs = d.filter(F.col("doc_id") % 2 == 0)
    planted = store_docs.filter(
        (F.col("doc_id") % 10 == 0)
        & (F.length(F.trim("text")) > 0)
        & (F.size(TX.tokens("text")) >= 3)
    )
    off = _plant_offset(d, "doc_id")
    batch = d.filter(F.col("doc_id") % 2 == 1).unionByName(
        _shift_ids(planted, off, "doc_id")
    )
    store = D.lsh_band_buckets(store_docs, "text", "doc_id")
    pairs, _ = D.incremental_minhash_lsh(batch, store, "text", "doc_id")
    truth = planted.crossJoin(off).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.col("__off")).alias("id_b"),
    )
    n_true = truth.agg(F.count("*").alias("n_true_cross"))
    n_hit = truth.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    ).agg(F.count("*").alias("n_found_cross"))
    return n_true.crossJoin(n_hit).select(
        "n_true_cross",
        "n_found_cross",
        (F.col("n_found_cross") == F.col("n_true_cross")).alias(
            "complete_ok"
        ),
    )


@register(
    "d_ngram_jaccard",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         list_distinct(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) AS tok_set
  FROM documents WHERE length(trim(text, ' ')) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
         / len(list_distinct(list_concat(a.tok_set, b.tok_set))) AS jaccard
FROM toks a JOIN toks b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
        / len(list_distinct(list_concat(a.tok_set, b.tok_set))) >= 0.9
""",
    doc="exact word-set Jaccard near-dup pairs (same-lang blocking); the "
    "verify stage of the MinHash pipeline, standalone at small n",
)
def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = d.select(
        "doc_id", "lang", F.array_distinct(TX.tokens("text")).alias("tok_set")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect("a.tok_set", "b.tok_set"))
    union = F.size(F.array_distinct(F.concat("a.tok_set", "b.tok_set")))
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.9)
    )


def _plant_offset(d: DataFrame, id_col: str) -> DataFrame:
    """Collision-free planted-copy id offset for the audit queries:
    a 1-row broadcastable frame {__off: max(id)+1}. The audits
    previously hard-coded +1,000,000, which silently collides with
    real ids once a corpus exceeds a million documents — deriving
    the offset from the data keeps the planted id namespace disjoint
    at every scale. Stays in-plan (crossJoin of a broadcast scalar
    frame), so it adds no driver-side collect."""
    return F.broadcast(
        d.agg(
            (F.coalesce(F.max(id_col), F.lit(0)).cast("long") + F.lit(1)).alias(
                "__off"
            )
        )
    )


def _shift_ids(
    df: DataFrame, off: DataFrame, id_col: str, mult: int = 1
) -> DataFrame:
    """Relabel `id_col` into the mult-th planted namespace
    (id + mult*__off), preserving column order."""
    cols = df.columns
    return (
        df.crossJoin(off)
        .withColumn(id_col, F.col(id_col) + F.lit(mult) * F.col("__off"))
        .select(*cols)
    )


@register(
    "d_minhash_lsh",
    oracle=None,  # hash-family-specific (xxhash64) → rows-only; recall
    # against exact Jaccard is pinned in tests
    doc="MinHash+LSH candidate pairs: shingle→32 minhashes→8 bands→"
    "bucket join (the 100 TB near-dup path)",
    bench=True,
)
def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scan_parallel_key (r16): the shingle+32×xxhash64 map stage
    # dominates this query and ran in ONE task on the single-row-group
    # testdata file; the adaptive hash rebalance measured −20% at
    # sf0.1 (interleaved A/B, values bit-identical) and is a metadata
    # no-op on any input that already splits
    d = load_table(spark, sf_dir, "documents", scan_parallel_key="doc_id")
    # PROBED AND REJECTED (r17): deduping the pairs on a range
    # partitioning of (id_a, id_b) so this orderBy reuses the exchange
    # (4 exchanges → 3) measured +5.4% — repartitionByRange's range-
    # bound SAMPLING pass re-evaluates the pair pipeline and costs
    # more than the exchange it saves
    # (`git show 7c6b345:scripts_ab_minhash_r17.py`).
    return D.minhash_lsh_pairs(d, "text", "doc_id").orderBy("id_a", "id_b")


@register(
    "d_minhash_lsh_audit",
    # The batch LSH path's hard completeness invariant: identical
    # text → identical shingle set → identical MinHash signature →
    # identical band buckets, so every identical-text pair MUST
    # appear among the candidates (bucket caps are far above sf
    # bucket sizes). Same planted-duplicate construction as
    # d_simhash_pairs; the eligibility floor is the 3-word shingle
    # minimum. Keeps d_minhash_lsh itself benchmarkable (raw pairs,
    # golden-pinned) while this twin gives the minhash pipeline a
    # hard cross-engine row.
    oracle=r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(COUNT(*) AS BIGINT) AS n_found_true,
       TRUE AS complete_ok
FROM documents
WHERE doc_id % 10 = 0
  AND length(trim(text, ' ')) > 0
  AND len(list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '')) >= 3
""",
    doc="MinHash-LSH planted-duplicate completeness audit: every "
    "byte-identical planted copy (every 10th eligible doc under "
    "doc_id+max(id)+1) must surface as a candidate pair — the "
    "recall guarantee the banding scheme is built on",
)
def d_minhash_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(
        (F.col("doc_id") % 10 == 0)
        & (F.length(F.trim("text")) > 0)
        & (F.size(TX.tokens("text")) >= 3)
    )
    off = _plant_offset(d, "doc_id")
    aug = d.unionByName(_shift_ids(planted, off, "doc_id"))
    found = D.minhash_lsh_pairs(aug, "text", "doc_id").select("id_a", "id_b")
    truth = planted.crossJoin(off).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.col("__off")).alias("id_b"),
    )
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_hit = truth.join(found, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_found_true")
    )
    return n_true.crossJoin(n_hit).select(
        "n_true_pairs",
        "n_found_true",
        (F.col("n_found_true") == F.col("n_true_pairs")).alias("complete_ok"),
    )


@register(
    "d_simhash_pairs",
    # xxhash64-specific pair VALUES can't be oracled, but the
    # pipeline's hard completeness invariant CAN: docs with identical
    # raw text have identical token multisets → identical SimHash →
    # Hamming 0 ≤ 8 → the Manku pigeonhole blocking MUST emit the
    # pair. The corpus has no exact duplicates, so the query plants
    # them (every 10th doc re-labeled under doc_id+max(id)+1; same
    # construction in the oracle) to keep the audit non-vacuous. The
    # oracle counts the ground-truth pairs (Σ n·(n−1)/2 over raw-text
    # groups) and the query proves it found every one
    # (n_found_true == n_true_pairs, as data).
    oracle="""
WITH aug AS (
  SELECT doc_id, text FROM documents WHERE length(trim(text, ' ')) > 0
  UNION ALL
  -- offset value is irrelevant here: the ground truth groups by
  -- text only, so any distinct relabeling works
  SELECT doc_id + 1000000, text FROM documents
  WHERE length(trim(text, ' ')) > 0 AND doc_id % 10 = 0
), g AS (
  SELECT COUNT(*) AS n FROM aug GROUP BY text
)
SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_true_pairs,
       CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_found_true,
       TRUE AS complete_ok
FROM g
""",
    doc="SimHash near-dup pairs: 64-bit signature, 9-chunk Manku "
    "blocking (complete recall at Hamming ≤ 8), popcount verify; "
    "emitted as the exact-duplicate completeness audit over a corpus "
    "with planted duplicates (every identical-text pair must appear "
    "among the Hamming≤8 pairs)",
)
def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    aug = d.unionByName(
        _shift_ids(
            d.filter(F.col("doc_id") % 10 == 0),
            _plant_offset(d, "doc_id"),
            "doc_id",
        )
    )
    found = D.simhash_near_pairs(aug, "text", "doc_id").select("id_a", "id_b")
    # Ground truth: pairs of byte-identical raw text (identical
    # tokens → identical simhash), generated array-side from the
    # raw-text groups (groups are tiny).
    groups = (
        aug.groupBy(F.xxhash64("text").alias("__fp"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )
    truth = groups.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("doc_ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("doc_ids"), i + 2,
                            F.greatest(F.size("doc_ids") - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_hit = truth.join(found, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_found_true")
    )
    # two 1-row scalar frames — the sanctioned crossJoin shape
    return n_true.crossJoin(n_hit).select(
        "n_true_pairs",
        "n_found_true",
        (F.col("n_found_true") == F.col("n_true_pairs")).alias("complete_ok"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _dot_sql(a: str, b: str) -> str:
    """Left-to-right 64-term dot product — matches the Spark
    zip_with+aggregate fold order exactly (bit-identical doubles)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, EMBED_DIM + 1)
    )


def _norm2_sql(a: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
        for i in range(1, EMBED_DIM + 1)
    )


S_COSINE_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         CASE WHEN sqrt({_norm2_sql('q.q_vec')}) * sqrt({_norm2_sql('c.c_vec')}) = 0
              THEN 0.0
              ELSE ({_dot_sql('q.q_vec', 'c.c_vec')})
                   / (sqrt({_norm2_sql('q.q_vec')}) * sqrt({_norm2_sql('c.c_vec')}))
         END AS cos_sim
  FROM c CROSS JOIN q
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) t WHERE rank <= 5
"""


@register(
    "s_cosine_topk",
    oracle=S_COSINE_ORACLE,
    doc="brute-force cosine top-k ANN baseline over array<float> "
    "embeddings (broadcast query set, per-query window rank)",
    bench=True,
)
def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(e, q, k=5)


# Rank-only oracle: the Arrow dot is not bit-exact (SIMD summation),
# so the oracle compares the top-k NEIGHBOR SETS, not cos_sim doubles.
# Distinct 64-dim cosines differ by far more than a few ulp, so ranks
# are stable across the two summation orders.
S_COSINE_ARROW_ORACLE = S_COSINE_ORACLE.replace(
    "SELECT query_id, rank, neighbor_id, cos_sim FROM (",
    "SELECT query_id, rank, neighbor_id FROM (",
)
# a silent no-op replace (anchor reworded in a future edit) would
# surface much later as a confusing driver column-shape mismatch —
# fail at import instead
assert S_COSINE_ARROW_ORACLE != S_COSINE_ORACLE, (
    "arrow-oracle anchor no longer matches S_COSINE_ORACLE"
)


@register(
    "s_cosine_topk_arrow",
    oracle=S_COSINE_ARROW_ORACLE,
    doc="brute-force cosine top-k on the Arrow-batched numpy dot — "
    "the alternate scoring path, benched to keep the fold-vs-arrow "
    "tradeoff measured every round (rank-parity oracle; value-hashed "
    "cos_sim parity is s_cosine_topk's job)",
    bench=True,
)
def s_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(e, q, k=5, dot_strategy="arrow").drop("cos_sim")


# Determinism: double sums depend on partial-agg merge order, so the
# centroid components aggregate as exact scaled integers (2^40 — exact
# for float32 values down to ulp 2^-40, deterministic rounding below
# that) and divide once at the end. Bit-identical across engines AND
# across Spark runs/partitionings.
_SCALE_2_40 = 1 << 40

@register(
    "s_centroids",
    oracle=f"""
SELECT label, CAST(pos AS INT) - 1 AS pos,
       CAST(SUM(CAST(round(CAST(embedding[CAST(pos AS INT)] AS DOUBLE)
                           * {_SCALE_2_40}) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / {_SCALE_2_40}.0 AS mean_val_r
FROM embeddings CROSS JOIN (SELECT unnest(range(1, {EMBED_DIM + 1})) AS pos) p
GROUP BY label, pos
""",
    doc="per-label centroid components (the IVF coarse quantizer build)",
)
def s_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    scaled = F.round(F.col("val").cast("double") * _SCALE_2_40).cast("long")
    return (
        pos.groupBy("label", "pos")
        .agg(
            (
                F.sum(scaled).cast("double") / F.count("*") / float(_SCALE_2_40)
            ).alias("mean_val_r")
        )
        .select("label", "pos", "mean_val_r")
    )


# The exact top-k truth set IS cross-engine checkable (s_cosine_topk
# proves bit parity), so the approximate-index queries emit a
# recall AUDIT against it: the oracle restates the exact truth set's
# count + id checksum (hard data), and the recall floor rides along
# as a boolean the query must prove TRUE (an index regression flips
# it → hash mismatch → red driver row). The full top-k outputs stay
# behavior-pinned in tests/test_quality_ops (floors, monotonicity).
_EXACT_TOPK_AUDIT_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         CASE WHEN sqrt({{nq}}) * sqrt({{nc}}) = 0 THEN 0.0
              ELSE ({{dot}}) / (sqrt({{nq}}) * sqrt({{nc}}))
         END AS cos_sim
  FROM c CROSS JOIN q
  WHERE q.query_id <> c.neighbor_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) t WHERE rank <= 5
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(query_id * 1000000 + neighbor_id) AS BIGINT) AS exact_checksum,
       TRUE AS recall_ok
FROM topk
""".format(
    nq=_norm2_sql("q.q_vec"), nc=_norm2_sql("c.c_vec"),
    dot=_dot_sql("q.q_vec", "c.c_vec"),
)


def _ann_recall_audit(exact: DataFrame, approx: DataFrame, floor_num: int,
                      floor_den: int) -> DataFrame:
    """(n_exact, exact_checksum, recall_ok): recall_ok is the exact
    integer comparison n_hits*floor_den >= n_exact*floor_num — no
    float division near the hash."""
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    stats = exact.agg(
        F.count("*").alias("n_exact"),
        F.sum(
            F.col("query_id").cast("long") * 1000000 + F.col("neighbor_id")
        ).alias("exact_checksum"),
    )
    n_hits = hits.agg(F.count("*").alias("n_hits"))
    # two 1-row scalar frames — the sanctioned crossJoin shape
    return stats.crossJoin(n_hits).select(
        "n_exact",
        "exact_checksum",
        (
            F.col("n_hits") * floor_den >= F.col("n_exact") * floor_num
        ).alias("recall_ok"),
    )


@register(
    "s_ivf_topk",
    oracle=_EXACT_TOPK_AUDIT_ORACLE,
    doc="IVF-style approximate ANN (assign to nearest label-centroid, "
    "probe 2 of 10 cells — the corpus-scale search path), emitted as "
    "a recall audit vs the exact brute-force truth set: the oracle "
    "pins the truth set's count + id checksum and the query proves "
    "recall@5 >= 0.2 while scanning ~20% of the corpus (floor from "
    "tests/test_quality_ops; measured ~0.36 on isotropic vectors)",
)
def s_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.centroids(e)
    q = e.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    approx = S.ivf_topk(e, q, cents, k=5, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    return _ann_recall_audit(exact, approx, floor_num=1, floor_den=5)


@register(
    "s_lsh_topk",
    oracle=_EXACT_TOPK_AUDIT_ORACLE,
    doc="hyperplane-LSH approximate top-k with multi-probe (the "
    "non-learned ANN scale path alongside IVF), emitted as a recall "
    "audit vs the exact truth set: oracle pins truth count + id "
    "checksum, query proves recall@5 >= 0.3 while scanning ~30% "
    "(floor from tests/test_quality_ops; measured ~0.44)",
)
def s_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    approx = S.lsh_topk(e, q, k=5).select("query_id", "neighbor_id")
    return _ann_recall_audit(exact, approx, floor_num=3, floor_den=10)


@register(
    "s_pq_topk",
    oracle=_EXACT_TOPK_AUDIT_ORACLE,
    doc="product-quantization ANN (8 subspaces x 16 codes = 32-bit "
    "codes, 64x smaller than the raw float32 vectors; ADC lookup-"
    "table scan over the codes, exact rerank of the top-50 "
    "shortlist — the compressed-domain scan path for corpora whose "
    "raw embeddings don't fit the cluster), emitted as a recall "
    "audit vs the exact truth set: oracle pins truth count + id "
    "checksum, query proves recall@5 >= 0.4 (floor from "
    "tests/test_quality_ops; measured ~0.73-0.76 at 20 queries and "
    "FLAT across 1-3 Lloyd iterations on the isotropic vectors, so "
    "the query trains 2)",
)
def s_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cb = S.pq_train(e, m=8, k=16, iters=2)
    exact = S.brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    approx = S.pq_topk(e, q, cb, k=5, shortlist=50).select(
        "query_id", "neighbor_id"
    )
    return _ann_recall_audit(exact, approx, floor_num=2, floor_den=5)


@register(
    "s_ivf_adc_topk",
    # Equivalence audit (AUDIT-ORACLE pattern, same as s_hier_assign):
    # IVF-ADC with nprobe >= n_cells scores every corpus row for
    # every query, so its output must equal standalone pq_topk with
    # the same codebooks/shortlist EXACTLY — cell pruning is the only
    # divergence point in the composition. Emitted as data: both row
    # counts (5 queries x k=5) and the set-equality boolean. The
    # interesting approximation (nprobe < n_cells) is covered by the
    # probed-cell containment test and the SCALE.md 1M measurement.
    oracle="""
SELECT CAST(25 AS BIGINT) AS n_pq_rows,
       CAST(25 AS BIGINT) AS n_adc_rows,
       TRUE AS full_probe_equals_pq
""",
    doc="IVF-ADC composition (faiss IndexIVFPQ shape): coarse IVF "
    "cells + PQ asymmetric scoring within probed cells + exact "
    "rerank — audited by bit-exact full-probe equivalence to "
    "standalone pq_topk",
)
def s_ivf_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cb = S.pq_train(e, m=8, k=16, iters=2)
    cents = S.centroids(e)
    n_cells = cents.count()  # dim-sized scalar (10 labels)
    pq = S.pq_topk(e, q, cb, k=5, shortlist=50).select(
        "query_id", "rank", "neighbor_id"
    ).localCheckpoint(eager=False)
    adc = S.ivf_adc_topk(
        e, q, cents, cb, k=5, nprobe=n_cells, shortlist=50
    ).select("query_id", "rank", "neighbor_id").localCheckpoint(eager=False)
    n_pq = pq.agg(F.count("*").alias("n_pq_rows"))
    n_adc = adc.agg(F.count("*").alias("n_adc_rows"))
    n_diff = pq.exceptAll(adc).unionByName(adc.exceptAll(pq)).agg(
        F.count("*").alias("__d")
    )
    return (
        n_pq.crossJoin(n_adc)
        .crossJoin(n_diff)
        .select(
            "n_pq_rows",
            "n_adc_rows",
            (F.col("__d") == 0).alias("full_probe_equals_pq"),
        )
    )


@register(
    "s_ivf_adc_store",
    # Equivalence + plan audit (AUDIT-ORACLE pattern): the
    # cell-partitioned PQ code store must return EXACTLY what the
    # inline encode-at-query-time path returns at the same probe
    # width (same codebooks, same probe list, same ADC expressions —
    # only the physical source of the codes differs), and its scan
    # must carry the probed-cell set as a PartitionFilter (checked on
    # the executed-plan string and emitted as data; the pytest twin
    # asserts it per-file). 3 queries × k=5 → 15 rows per path.
    oracle="""
SELECT CAST(15 AS BIGINT) AS n_inline_rows,
       CAST(15 AS BIGINT) AS n_store_rows,
       TRUE AS scan_partition_pruned,
       TRUE AS store_equals_inline
""",
    doc="cell-partitioned PQ code store (build once, probed-cell "
    "partition-pruned ADC reads — the served-index half of "
    "ivf_adc_topk): audited by exact equality to the inline path and "
    "a plan-level PartitionFilters check emitted as data",
)
def s_ivf_adc_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from data_engineering_hs_spark.queries.streaming_q import _work_dir

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    # iters=1: the audit is store-vs-inline EQUALITY under the SAME
    # codebooks — codebook quality is irrelevant to it, so don't pay
    # extra Lloyd rounds (s_pq_topk covers recall with iters=2)
    cb = S.pq_train(e, m=8, k=16, iters=1)
    cents = S.centroids(e)
    # fixed per-(query, sf_dir) scratch dir, wiped on entry — mkdtemp
    # would accrete one code copy per sweep invocation, unboundedly
    store = _work_dir("pqstore", sf_dir)
    S.build_pq_code_store(e, cents, cb, store)
    inline = S.ivf_adc_topk(
        e, q, cents, cb, k=5, nprobe=2, shortlist=50
    ).select("query_id", "rank", "neighbor_id").localCheckpoint(eager=False)
    stored_full = S.ivf_adc_topk(
        e, q, cents, cb, k=5, nprobe=2, shortlist=50, code_store=store
    )
    # plan-level pruning proof: the store scan's PartitionFilters
    # must name the cell column (a non-pruned read would show
    # `PartitionFilters: []` and scan every cell's files)
    plan = stored_full._jdf.queryExecution().executedPlan().toString()
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    pruned_ok = any("cell" in pf for pf in part_filters)
    stored = stored_full.select(
        "query_id", "rank", "neighbor_id"
    ).localCheckpoint(eager=False)
    n_inline = inline.agg(F.count("*").alias("n_inline_rows"))
    n_store = stored.agg(F.count("*").alias("n_store_rows"))
    n_diff = inline.exceptAll(stored).unionByName(
        stored.exceptAll(inline)
    ).agg(F.count("*").alias("__d"))
    return (
        n_inline.crossJoin(n_store)
        .crossJoin(n_diff)
        .select(
            "n_inline_rows",
            "n_store_rows",
            F.lit(pruned_ok).alias("scan_partition_pruned"),
            (F.col("__d") == 0).alias("store_equals_inline"),
        )
    )


@register(
    "s_ivf_store_append",
    # AUDIT-ORACLE: incremental store maintenance must be
    # indistinguishable from a rebuild — build the IVF-Flat store
    # from 80% of the corpus, append_to_cell_store the remaining 20%,
    # and the grown store equals a from-scratch build of the full
    # corpus row for row (exceptAll both ways == 0). The corpus-
    # identity stamp is audited alongside: the base-built store
    # REFUSES the grown corpus before the append and verifies it
    # after (both emitted as data).
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_store_rows,
       TRUE AS append_equals_rebuild,
       TRUE AS stale_base_refused,
       TRUE AS grown_corpus_verified
FROM embeddings
""",
    doc="incremental ANN-store maintenance: append-only cell-store "
    "growth (assign+encode the increment only) audited by exact "
    "equality to a full rebuild, plus the corpus-staleness stamp "
    "(refuse before append, verify after)",
)
def s_ivf_store_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.queries.streaming_q import _work_dir

    full_tbl = load_table(spark, sf_dir, "embeddings")
    cents = S.centroids(full_tbl)
    e = full_tbl.select("vec_id", "embedding")
    cut = int(e.count() * 0.8)
    base = e.filter(F.col("vec_id") < cut)
    inc = e.filter(F.col("vec_id") >= cut)
    grown = _work_dir("ivfappend_grown", sf_dir)
    full = _work_dir("ivfappend_full", sf_dir)
    S.build_ivf_store(base, cents, grown)
    # staleness stamp, before: base-built store must refuse the
    # grown corpus
    try:
        S._verify_store_corpus(e, grown, "vec_id")
        stale_refused = False
    except ValueError:
        stale_refused = True
    S.append_to_cell_store(inc, cents, grown)
    # staleness stamp, after: the fold-in makes the grown corpus
    # verify (raises here -> query errors -> driver-red, as it should)
    S._verify_store_corpus(e, grown, "vec_id")
    S.build_ivf_store(e, cents, full)
    cols = ["vec_id", "cell", "embedding"]
    g = spark.read.parquet(grown).select(cols)
    f = spark.read.parquet(full).select(cols)
    n_store = g.agg(F.count("*").alias("n_store_rows"))
    n_diff = g.exceptAll(f).unionByName(f.exceptAll(g)).agg(
        F.count("*").alias("__d")
    )
    return n_store.crossJoin(n_diff).select(
        "n_store_rows",
        (F.col("__d") == 0).alias("append_equals_rebuild"),
        F.lit(stale_refused).alias("stale_base_refused"),
        F.lit(True).alias("grown_corpus_verified"),
    )


@register(
    "s_embedding_near_dup",
    # Identical vectors produce identical hyperplane signs → the SAME
    # bucket, deterministically — so LSH + exact-cosine verify MUST
    # report every planted exact-duplicate pair (cos=1.0 >= 0.25).
    # The isotropic corpus has no true near-dups, so the query plants
    # them (every 10th vec re-labeled under vec_id+max(id)+1) and the
    # oracle counts the ground truth; completeness is emitted as data.
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(COUNT(*) AS BIGINT) AS n_found_true,
       TRUE AS complete_ok
FROM embeddings WHERE vec_id % 10 = 0
""",
    doc="embedding-cosine near-duplicate pairs via random-hyperplane "
    "LSH buckets + exact verify, emitted as the planted-duplicate "
    "completeness audit (identical vectors bucket identically, so "
    "every planted pair must surface)",
)
def s_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 10 == 0)
    off = _plant_offset(e, "vec_id")
    aug = e.unionByName(_shift_ids(planted, off, "vec_id"))
    found = S.embedding_near_dups(aug, threshold=0.25).select("id_a", "id_b")
    truth = planted.crossJoin(off).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + F.col("__off")).alias("id_b"),
    )
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_hit = truth.join(found, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_found_true")
    )
    return n_true.crossJoin(n_hit).select(
        "n_true_pairs",
        "n_found_true",
        (F.col("n_found_true") == F.col("n_true_pairs")).alias("complete_ok"),
    )


# ---------------------------------------------------------------------------
# Corpus hygiene: boilerplate detection, winnowing, PII scrub
# ---------------------------------------------------------------------------

_SHINGLE_CTE = r"""
words AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '') AS w
  FROM documents WHERE length(trim(text, ' ')) > 0
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        for i in range(1, len(w) - 1)]) AS shingles
  FROM words WHERE len(w) >= 3
)
"""


@register(
    "t_common_ngrams",
    oracle=f"""
WITH {_SHINGLE_CTE}
SELECT ngram, COUNT(*) AS n_docs
FROM sh, UNNEST(shingles) AS t(ngram)
GROUP BY ngram
HAVING COUNT(*) >= 5
""",
    doc="C4-style boilerplate table: word 3-grams present in >=5 "
    "distinct documents (per-doc dedup BEFORE the shuffle, so the "
    "reduce side is a plain COUNT)",
)
def t_common_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators import corpus as C

    d = load_table(spark, sf_dir, "documents")
    return C.common_ngrams(d, "text", "doc_id", n=3, min_docs=5)


@register(
    "t_boilerplate_ratio",
    # Documents shorter than the 3-gram floor emit (0, 0, 0.0) — the
    # every-row contract (an inner-joining quality pipeline must not
    # silently lose them), mirrored in the operator's final left join.
    oracle=f"""
WITH {_SHINGLE_CTE},
freq AS (
  SELECT ngram FROM sh, UNNEST(shingles) AS t(ngram)
  GROUP BY ngram HAVING COUNT(*) >= 5
),
ex AS (SELECT doc_id, ngram FROM sh, UNNEST(shingles) AS t(ngram)),
agg AS (
  SELECT ex.doc_id, COUNT(*) AS n_shingles,
         COUNT(f.ngram) AS n_common,
         CAST(COUNT(f.ngram) AS DOUBLE) / COUNT(*) AS boilerplate_ratio
  FROM ex LEFT JOIN freq f ON ex.ngram = f.ngram
  GROUP BY ex.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(a.n_common, 0) AS BIGINT) AS n_common,
       COALESCE(a.boilerplate_ratio, 0.0) AS boilerplate_ratio
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
    doc="per-document boilerplate ratio: fraction of distinct 3-grams "
    "that are corpus-frequent (a standard pre-training drop signal); "
    "sub-3-gram docs score 0.0 rather than vanishing",
)
def t_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators import corpus as C

    d = load_table(spark, sf_dir, "documents")
    return C.boilerplate_ratio(d, "text", "doc_id", n=3, min_docs=5)


@register(
    "d_winnow_fingerprints",
    # Winnowing is a pure function of the text (3-gram xxhash minima
    # over sliding windows), so a byte-identical copy MUST emit a
    # byte-identical fingerprint set — the passage-overlap guarantee
    # the algorithm exists for. The query plants a copy of every 10th
    # eligible doc (>=3 tokens, the shingle floor) under
    # doc_id+max(id)+1 and proves per-doc set equality; the oracle
    # counts the planted ground truth.
    oracle=r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
       CAST(COUNT(*) AS BIGINT) AS n_identical_sets,
       TRUE AS all_identical
FROM documents
WHERE doc_id % 10 = 0
  AND length(trim(text, ' ')) > 0
  AND len(list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '')) >= 3
""",
    doc="MOSS winnowing: distinct sliding-window minima over word "
    "3-gram hashes — passage-level overlap fingerprints (any shared "
    "run of >=6 words shares a fingerprint); emitted as the "
    "planted-copy audit (a byte-identical copy must produce a "
    "byte-identical fingerprint set)",
)
def d_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators import corpus as C

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eligible = d.filter(
        (F.length(F.trim("text")) > 0) & (F.size(TX.tokens("text")) >= 3)
    )
    planted = eligible.filter(F.col("doc_id") % 10 == 0)
    off = _plant_offset(d, "doc_id")
    aug = d.unionByName(_shift_ids(planted, off, "doc_id"))
    fps = C.winnowing_fingerprints(aug, "text", "doc_id", k=3, window=4)
    orig = fps.join(
        planted.select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "fingerprint")
    copy = (
        fps.crossJoin(off)
        .filter(F.col("doc_id") >= F.col("__off"))
        .select((F.col("doc_id") - F.col("__off")).alias("doc_id"), "fingerprint")
    )
    # set equality per doc: |orig| == |copy| == |orig ∩ copy|
    a = orig.groupBy("doc_id").agg(F.count("*").alias("n_a"))
    b = copy.groupBy("doc_id").agg(F.count("*").alias("n_b"))
    both = (
        orig.join(copy, ["doc_id", "fingerprint"], "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_both"))
    )
    eq = (
        a.join(b, "doc_id")
        .join(both, "doc_id")
        .filter(
            (F.col("n_a") == F.col("n_b")) & (F.col("n_a") == F.col("n_both"))
        )
    )
    n_planted = planted.agg(F.count("*").alias("n_planted"))
    n_eq = eq.agg(F.count("*").alias("n_identical_sets"))
    return n_planted.crossJoin(n_eq).select(
        "n_planted",
        "n_identical_sets",
        (F.col("n_identical_sets") == F.col("n_planted")).alias(
            "all_identical"
        ),
    )


@register(
    "t_repetition_stats",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '') AS w FROM documents
),
g2 AS (
  SELECT doc_id, UNNEST([array_to_string(w[i:i+1], ' ')
                         for i in range(1, len(w))]) AS g
  FROM toks WHERE len(w) >= 2
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
s2 AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS tot FROM c2 GROUP BY doc_id),
g3 AS (
  SELECT doc_id, UNNEST([array_to_string(w[i:i+2], ' ')
                         for i in range(1, len(w) - 1)]) AS g
  FROM toks WHERE len(w) >= 3
),
c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
s3 AS (SELECT doc_id,
              SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc,
              SUM(c) AS tot
       FROM c3 GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(CAST(s2.topc AS DOUBLE) / s2.tot, 0.0) AS top_2gram_frac,
       COALESCE(CAST(s3.dupc AS DOUBLE) / s3.tot, 0.0) AS dup_3gram_frac
FROM documents d
LEFT JOIN s2 ON d.doc_id = s2.doc_id
LEFT JOIN s3 ON d.doc_id = s3.doc_id
""",
    doc="Gopher-style intra-document repetition filters: most-frequent-"
    "2gram fraction + duplicated-3gram fraction per doc (the "
    "templated/spun-text drop signal)",
)
def t_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators import corpus as C

    d = load_table(spark, sf_dir, "documents")
    return C.repetition_stats(d, "text", "doc_id", top_n=2, dup_n=3)


@register(
    "d_decontam_overlap",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '') AS w FROM documents
),
g AS (
  SELECT doc_id, UNNEST(list_distinct([array_to_string(w[i:i+3], ' ')
                                       for i in range(1, len(w) - 2)])) AS g
  FROM toks WHERE len(w) >= 4
),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
SELECT doc_id, COUNT(*) AS n_shared
FROM g JOIN bench USING (g)
WHERE doc_id % 97 <> 0
GROUP BY doc_id
""",
    doc="benchmark decontamination: corpus docs sharing any word "
    "4-gram with the held-out benchmark partition (doc_id % 97 = 0 "
    "stand-in; production uses n=8..13 against real eval sets), "
    "n_shared = distinct shared grams",
)
def d_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators import corpus as C

    d = load_table(spark, sf_dir, "documents")
    corpus_side = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return C.decontaminate(corpus_side, benchmark, "text", "doc_id", n=4)


@register(
    "f_pii_scrub",
    oracle="""
SELECT doc_id,
       substring(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               'contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com or 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR)
                 || '.1 call 555-123-4567 ' || text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
           '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
         1, 80) AS scrubbed
FROM documents
""",
    doc="PII scrub (email/IPv4/phone -> typed tokens) over documents "
    "salted with deterministic synthetic PII; patterns restricted to "
    "the Java-regex/RE2 common subset so both engines rewrite "
    "identically",
)
def f_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    salted = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 call 555-123-4567 "),
        F.col("text"),
    )
    return d.select(
        "doc_id", F.substring(TX.scrub_pii(salted), 1, 80).alias("scrubbed")
    )


@register(
    "d_setsim_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_distinct(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) AS tok_set
  FROM documents WHERE length(trim(text, ' ')) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
         / len(list_distinct(list_concat(a.tok_set, b.tok_set))) AS jaccard,
       false AS truncated
FROM toks a JOIN toks b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
        / len(list_distinct(list_concat(a.tok_set, b.tok_set))) >= 0.7
""",
    doc="EXACT set-similarity join via prefix filtering (PPJoin "
    "family): complete by construction — the oracle is the full "
    "all-pairs Jaccard and must match EXACTLY, which proves the "
    "prefix-pruning loses nothing (unlike LSH's probabilistic recall)",
)
def d_setsim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.set_similarity_join(d, "text", "doc_id", threshold=0.7)


@register(
    "t_token_counts",
    oracle=r"""
SELECT doc_id,
       CASE WHEN length(trim(text, ' ')) = 0 THEN 0
            ELSE len(list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '')) END AS ws_tokens,
       len(regexp_extract_all(text || ' v' || CAST(doc_id AS VARCHAR) || '.0!',
                              '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
FROM documents
""",
    doc="token counting two ways: whitespace tokens and the BPE-ish "
    "regex segmentation (words | numbers | single symbols) — the "
    "training-data budgeting counters; text is salted with a "
    "punctuated version suffix so the two counters provably diverge",
)
def t_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"), F.lit(" v"), F.col("doc_id").cast("string"), F.lit(".0!")
    )
    return d.select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.regex_token_count(salted).alias("bpe_tokens"),
    )


@register(
    "t_hash_split",
    oracle="""
WITH b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 10000 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
    doc="deterministic content-keyed train/val/test split: "
    "md5(seed:id)-bucketed thresholds — stable under repartitioning/"
    "appends and bit-identical across engines (unlike rand()/sample)",
)
def t_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.corpus import hash_split

    d = load_table(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select("doc_id", "split")


@register(
    "t_stratified_sample",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('v1:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) t WHERE rn <= 20
""",
    doc="exact-quota stratified sampling: 20 docs per language chosen "
    "by md5(seed:id) order — deterministic across runs/partitionings "
    "(sampleBy quotas are probabilistic; eval sets need exact counts)",
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.corpus import stratified_quota_sample

    d = load_table(spark, sf_dir, "documents")
    return stratified_quota_sample(d, "lang", "doc_id", quota=20).select(
        "doc_id", "lang"
    )


@register(
    "t_domain_mix",
    oracle="""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('v1:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) t
JOIN (VALUES ('src0', 20), ('src1', 10), ('src2', 5)) q(source, quota)
  USING (source)
WHERE rn <= quota
""",
    doc="domain mixing: exact per-source quotas (20/10/5 from "
    "src0/src1/src2, everything else dropped) drawn by deterministic "
    "md5(seed:id) order — the reproducible corpus-mixture primitive",
)
def t_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.corpus import weighted_quota_sample

    d = load_table(spark, sf_dir, "documents")
    return weighted_quota_sample(
        d, "source", "doc_id", {"src0": 20, "src1": 10, "src2": 5}
    ).select("doc_id", "source")


@register(
    "t_chunk_documents",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '') AS w
  FROM documents WHERE length(trim(text, ' ')) > 0
)
SELECT doc_id,
       CAST(UNNEST(range(len(starts))) AS INT) AS chunk_id,
       UNNEST([array_to_string(w[s:s+63], ' ') FOR s IN starts]) AS chunk_text,
       UNNEST([least(64, len(w) - s + 1) FOR s IN starts]) AS n_tokens
FROM (
  SELECT doc_id, w,
         [s FOR s IN range(1, len(w) + 1, 56)
          IF s = 1 OR s <= len(w) - 8] AS starts
  FROM toks
) t
""",
    doc="sliding-window token chunking (64-token chunks, 8-token "
    "overlap): the context-window preparation step — pure array "
    "expressions, no shuffle",
)
def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.corpus import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, "text", "doc_id", chunk_tokens=64, overlap=8)


@register(
    "t_pack_contexts",
    # The packing itself is shard-local greedy (order-dependent, not
    # SQL-expressible), but its CONSERVATION LAWS are: every chunk
    # lands in exactly one bin, total tokens are preserved, and no
    # bin exceeds the 256-token target (all chunks are 64 tokens or
    # fewer, so no oversize bins exist). The oracle restates the
    # chunk totals from the independently hash-verified chunking SQL
    # (t_chunk_documents) and pins the invariants; bin assignment
    # detail stays property-tested in tests/test_properties.
    oracle=r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '') AS w
  FROM documents WHERE length(trim(text, ' ')) > 0
),
chunks AS (
  SELECT doc_id,
         UNNEST([least(64, len(w) - s + 1) FOR s IN starts]) AS n_tokens
  FROM (
    SELECT doc_id, w,
           [s FOR s IN range(1, len(w) + 1, 56)
            IF s = 1 OR s <= len(w) - 8] AS starts
    FROM toks
  ) t
)
SELECT CAST(COUNT(*) AS BIGINT) AS total_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       TRUE AS chunks_conserved,
       TRUE AS bins_within_target
FROM chunks
""",
    doc="context packing end-to-end: 64-token chunks greedily packed "
    "into 256-token training sequences, shard-local (the one "
    "genuinely sequential pipeline op — Arrow-batched per shard); "
    "emitted as the conservation audit (chunk count + token totals "
    "cross-checked against the chunking oracle, exactly-once "
    "membership and bin-capacity invariants as data)",
)
def t_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.corpus import (
        chunk_documents,
        pack_sequences,
    )

    d = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(d, "text", "doc_id", chunk_tokens=64, overlap=8)
    # chunk uid packs (doc_id, chunk_id) into one sortable key; the
    # 32-bit shift gives chunk_id 4B of headroom so the uid space
    # cannot collide however many chunks a document emits
    chunks = chunks.select(
        (F.shiftleft(F.col("doc_id"), 32) + F.col("chunk_id")).alias(
            "chunk_uid"
        ),
        "n_tokens",
    )
    # chunks feeds pack_sequences AND the n_chunks audit; packed (a
    # Python applyInPandas stage, not ReuseExchange-covered) feeds
    # bins + totals — so the pandas stage does execute more than
    # once. Checkpointing both was MEASURED (3-run medians, sf0.1):
    # 1.0-1.4 s vs 0.9-1.05 s without — the two eager blocking
    # materializations cost more than the duplicated work at this
    # corpus size. Re-measure before checkpointing at a corpus where
    # the pandas packing dominates.
    packed = pack_sequences(
        chunks, "n_tokens", "chunk_uid", target=256, shards=8
    )
    bins = packed.groupBy("shard", "bin_id").agg(
        F.sum("size").alias("bin_tokens"), F.max("oversize").alias("oversize")
    )
    totals = packed.agg(
        F.count("*").alias("n_packed"),
        F.count_distinct("id").alias("n_distinct"),
        F.sum("size").alias("total_tokens"),
    )
    n_chunks = chunks.agg(F.count("*").alias("total_chunks"))
    bin_ok = bins.agg(
        F.max(
            F.when(~F.col("oversize"), F.col("bin_tokens")).otherwise(0)
        ).alias("max_bin"),
        F.sum(F.col("oversize").cast("long")).alias("n_oversize"),
    )
    return (
        n_chunks.crossJoin(totals)
        .crossJoin(bin_ok)
        .select(
            "total_chunks",
            "total_tokens",
            (
                (F.col("n_packed") == F.col("total_chunks"))
                & (F.col("n_distinct") == F.col("total_chunks"))
            ).alias("chunks_conserved"),
            (
                (F.col("max_bin") <= 256) & (F.col("n_oversize") == 0)
            ).alias("bins_within_target"),
        )
    )


@register(
    "d_dup_components_lsh",
    # End-to-end guarantee the composition must uphold: a group of
    # byte-identical docs has identical signatures (LSH must bucket
    # them), shingle-Jaccard 1.0 (verify must keep them), and a
    # connected pair graph (components must merge them). The query
    # plants 3-member identical-text groups (every 25th eligible doc
    # copied under +off and +2*off, off=max(id)+1) and emits one
    # PER-GROUP row proving
    # all 3 members share a component; the oracle restates the
    # planted group keys from the same eligibility predicate.
    oracle=r"""
SELECT doc_id AS group_rep,
       3 AS n_members,
       TRUE AS intact
FROM documents
WHERE doc_id % 25 = 0
  AND length(trim(text, ' ')) > 0
  AND len(list_filter(string_split_regex(text, '\s+'), t_ -> t_ <> '')) >= 3
ORDER BY group_rep
""",
    doc="the PRODUCTION dedup composition end-to-end: MinHash-LSH "
    "candidates → exact SHINGLE-Jaccard verify (>=0.7, above the "
    "b=8/r=4 S-curve where recall is test-pinned) → connected "
    "components; emitted as the planted-group audit (one row per "
    "planted 3-member identical-text group, proving the whole "
    "pipeline merges it into one component)",
)
def d_dup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(
        (F.col("doc_id") % 25 == 0)
        & (F.length(F.trim("text")) > 0)
        & (F.size(TX.tokens("text")) >= 3)
    )
    off = _plant_offset(d, "doc_id")
    aug = d.unionByName(_shift_ids(planted, off, "doc_id", mult=1)).unionByName(
        _shift_ids(planted, off, "doc_id", mult=2)
    )
    cands = D.minhash_lsh_pairs(aug, "text", "doc_id").select("id_a", "id_b")
    sh = aug.select("doc_id", TX.word_shingles("text").alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(jac >= 0.7)
        .select("id_a", "id_b")
    )
    comps = D.dup_groups(verified)  # (doc_id, component)
    p_off = planted.crossJoin(off)
    members = planted.select(
        F.col("doc_id").alias("group_rep"), F.col("doc_id").alias("member")
    ).unionByName(
        p_off.select(
            F.col("doc_id").alias("group_rep"),
            (F.col("doc_id") + F.col("__off")).alias("member"),
        )
    ).unionByName(
        p_off.select(
            F.col("doc_id").alias("group_rep"),
            (F.col("doc_id") + F.lit(2) * F.col("__off")).alias("member"),
        )
    )
    per_group = (
        members.join(
            comps.select(
                F.col("doc_id").alias("member"), "component"
            ),
            "member",
            "left",
        )
        .groupBy("group_rep")
        .agg(
            F.count("member").alias("n_members"),
            F.count_distinct("component").alias("n_comps"),
            F.sum(F.col("component").isNull().cast("long")).alias("n_missing"),
        )
    )
    return per_group.select(
        "group_rep",
        F.col("n_members").cast("int").alias("n_members"),
        ((F.col("n_comps") == 1) & (F.col("n_missing") == 0)).alias("intact"),
    ).orderBy("group_rep")


@register(
    "t_heavy_hitters",
    oracle="""
SELECT token, n FROM (
  SELECT token, COUNT(*) AS n,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rk
  FROM (
    SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) AS token
    FROM documents WHERE length(trim(text, ' ')) > 0
  )
  GROUP BY token
) t WHERE rk <= 20
""",
    doc="exact corpus heavy hitters: top-20 tokens by frequency "
    "(explode -> count -> top-k; the exact baseline whose sketch "
    "twins — approx_top_k / count_min_sketch — are pinned against "
    "it in tests)",
)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(F.explode(TX.tokens("text")).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.orderBy(F.desc("n"), F.asc("token")))
    return counts.withColumn("rk", rk).filter(F.col("rk") <= 20).select("token", "n")


def _curate_oracle() -> str:
    """The whole pipeline is SQL-expressible stage by stage (each
    stage's restatement is already proven bit-exact by its own
    registry query), so the composition gets a hard oracle too:
    - exact-dup collapse groups by the NORMALIZED TEXT itself instead
      of its xxhash64 fingerprint — identical partitioning;
    - quality/langid restate the t_quality_score / t_langid SQL over
      the deduped survivors;
    - boilerplate ratio restates t_boilerplate_ratio's shape over the
      FULL corpus but with the pipeline's FRACTIONAL threshold
      (≥ ceil(1% of docs), r14 — the standalone row keeps absolute
      min_docs=5: it tests the operator, not the pipeline policy);
    - the split restates t_hash_split's md5 bucketing."""
    return f"""
WITH {_SHINGLE_CTE},
freq AS (
  -- fractional boilerplate threshold (r14): common = present in
  -- >= ceil(1% of distinct docs); integer ceil-div exactly as the
  -- Spark side computes it ((n*10000 + 999999) DIV 1000000)
  SELECT ngram FROM sh, UNNEST(shingles) AS t(ngram)
  GROUP BY ngram
  HAVING COUNT(*) >= (
    (SELECT COUNT(DISTINCT doc_id) FROM documents) * 10000 + 999999
  ) // 1000000
),
ex AS (SELECT doc_id, ngram FROM sh, UNNEST(shingles) AS t(ngram)),
bp AS (
  SELECT ex.doc_id,
         CAST(COUNT(f.ngram) AS DOUBLE) / COUNT(*) AS ratio
  FROM ex LEFT JOIN freq f ON ex.ngram = f.ngram
  GROUP BY ex.doc_id
),
dd AS (
  SELECT doc_id, lang, text,
         ROW_NUMBER() OVER (
           PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
           ORDER BY doc_id) AS rn
  FROM documents
),
d1 AS (SELECT doc_id, lang, text FROM dd WHERE rn = 1),
qc0 AS (
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0 THEN 0
              ELSE len(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '')) END AS n_tok,
         CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS pr,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> '') END AS toks
  FROM d1
),
qc AS (
  SELECT doc_id,
         {stable_round_sql(
             "(least(CAST(n_tok AS DOUBLE) / 50.0, 1.0)"
             " + (1.0 - least(pr * 5.0, 1.0))"
             " + greatest(1.0 - abs("
             "     CAST(len(list_filter(toks,"
             f"         t -> list_contains({_STOPWORD_SQL_LIST}, lower(t))))"
             "       AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE)"
             "     - 0.25) * 2.0, 0.0)) / 3.0", 6)} AS quality
  FROM qc0
),
lt AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text, ' ')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(list_filter(string_split_regex(text, '\\s+'), t_ -> t_ <> ''),
                                  x -> lower(x)) END AS toks
  FROM d1
),
ls AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(
      ['the','and','of','to','is','in','that','it','was','for'], x))) AS en,
    len(list_filter(toks, x -> list_contains(
      ['el','la','de','que','y','los','las','por','una','es'], x))) AS es,
    len(list_filter(toks, x -> list_contains(
      ['der','die','und','das','ist','nicht','ein','mit','den','zu'], x))) AS de,
    len(list_filter(toks, x -> list_contains(
      ['le','la','les','des','est','une','dans','pour','que','qui'], x))) AS fr,
    len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS zh
  FROM lt
),
lc AS (
  SELECT doc_id,
    CASE WHEN greatest(en, es, de, fr, zh) > 0 THEN
      CASE WHEN zh >= greatest(en, es, de, fr) THEN 'zh'
           WHEN fr >= greatest(en, es, de) THEN 'fr'
           WHEN es >= greatest(en, de) THEN 'es'
           WHEN en >= de THEN 'en'
           ELSE 'de' END
    ELSE 'und' END AS pred_lang
  FROM ls
),
kept AS (
  SELECT d1.doc_id, d1.lang, qc.quality
  FROM d1
  JOIN qc USING (doc_id)
  JOIN lc USING (doc_id)
  LEFT JOIN bp ON bp.doc_id = d1.doc_id
  WHERE qc.quality >= 0.4
    AND lc.pred_lang = d1.lang
    AND coalesce(bp.ratio, 0.0) <= 0.8
)
SELECT doc_id, lang, quality,
       CASE WHEN CAST(concat('0x',
                 substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 10000 < 9000 THEN 'train'
            WHEN CAST(concat('0x',
                 substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 10000 < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM kept ORDER BY doc_id
"""


@register(
    "t_curate_training_set",
    oracle=_curate_oracle(),
    doc="the end-to-end curation pipeline: exact-dup collapse (keep "
    "min doc_id per fingerprint) → quality floor → language filter → "
    "boilerplate ceiling (FRACTIONAL ≥1%-of-docs threshold since r14 "
    "— scale-invariant selectivity ~0.32 at sf0.01 AND sf0.1, where "
    "the old absolute min_docs=5 selected 0 docs at sf0.1) → "
    "deterministic train/val/test split. One query composing six "
    "operators — the flagship LLM-training-data use case this engine "
    "exists for; fully restated stage-by-stage in the DuckDB oracle",
)
def t_curate_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from data_engineering_hs_spark.operators.corpus import (
        boilerplate_ratio,
        hash_split,
    )

    # scan_parallel_key (r16): the scoring+fingerprint projection is
    # the heavy map stage; the adaptive hash rebalance parallelizes it
    # on unsplittable inputs and no-ops otherwise (see catalog.py)
    d = load_table(spark, sf_dir, "documents", scan_parallel_key="doc_id")
    # Score BEFORE the dedup window and drop text from the exchange
    # (r16, guide §2.3 "project before the exchange"): the window
    # previously shuffled the multi-KB text on the fingerprint key
    # just so quality/lang-id could run on the survivors afterwards.
    # Scoring first means the exchange carries five scalars per doc
    # and the raw text never crosses a shuffle. Cost: duplicate docs
    # are scored too — identical text scores identically, so values
    # are unchanged (ordered collect compared bit-identical at sf0.01
    # AND sf0.1); on a dup-heavy corpus that trades ~dup-rate extra
    # per-doc compute for not moving the corpus text over the
    # network, the cheaper side at cluster scale. Measured with the
    # rebalance: −11.0% at sf0.1 (interleaved A/B, 7 reps).
    pre = d.select(
        "doc_id",
        "lang",
        TX.fingerprint64("text").alias("__fp"),
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("pred_lang"),
    )
    # exact-dup collapse: keep the smallest doc_id per normalized text
    rep = F.row_number().over(W.partitionBy("__fp").orderBy("doc_id"))
    scored = (
        pre.withColumn("__rep", rep)
        .filter(F.col("__rep") == 1)
        .select("doc_id", "lang", "quality", "pred_lang")
    )
    # fractional threshold (r14, verdict-sanctioned): a shingle is
    # boilerplate when it appears in ≥1% of documents. The absolute
    # min_docs=5 it replaces selected 160/500 docs at sf0.01 but
    # 0/4992 at sf0.1 (at 10× the corpus nearly every 3-shingle from
    # the finite template pool appears in ≥5 docs → mean ratio 0.983
    # → the ≤0.8 ceiling rejects everything — the pipeline would emit
    # an EMPTY training set at 100 TB). At 1% the threshold is 5 at
    # sf0.01 (bit-identical to the pinned behavior) and selection
    # stays ~0.32 at both scales (test_curate_scale_invariance).
    bp = boilerplate_ratio(d, "text", "doc_id", min_doc_frac=0.01).select(
        "doc_id", "boilerplate_ratio"
    )
    kept = (
        scored.join(bp, "doc_id", "left")
        .filter(
            (F.col("quality") >= 0.4)
            & (F.col("pred_lang") == F.col("lang"))
            & (F.coalesce("boilerplate_ratio", F.lit(0.0)) <= 0.8)
        )
    )
    return (
        hash_split(kept, "doc_id")
        .select(
            "doc_id", "lang", stable_round("quality", 6).alias("quality"),
            "split",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# MMR diversification — greedy algorithm, hash-checked: the oracle
# UNROLLS the k selection stages (same pattern as g_pagerank_nations'
# unrolled iterations), with all similarity math in the bit-exact
# sequential fold so scores agree to the last ulp.
# ---------------------------------------------------------------------------

_MMR_POOL = 8
_MMR_K = 4
_MMR_LAM = 0.7


def _cos_sql(a: str, b: str) -> str:
    return (
        f"CASE WHEN sqrt({_norm2_sql(a)}) * sqrt({_norm2_sql(b)}) = 0 THEN 0.0 "
        f"ELSE ({_dot_sql(a, b)}) / (sqrt({_norm2_sql(a)}) * sqrt({_norm2_sql(b)})) END"
    )


def _mmr_oracle() -> str:
    lam, one_m = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    stages = []
    prev = "sel1"
    for s in range(2, _MMR_K + 1):
        # MATERIALIZED everywhere a CTE is referenced more than once
        # (each stage reads the previous selection twice and the
        # cand/sims pools once): default inlining re-expands the
        # whole upstream pipeline per reference and the oracle was
        # measured ~8.5 s of the 9.8 s driver row — the g_kcore
        # fd-exhaustion lesson, milder form
        stages.append(f"""sel{s} AS MATERIALIZED (
  SELECT vec_id, rel, {s} AS pick FROM (
    SELECT c.vec_id, c.rel,
           {lam} * c.rel - {one_m} * (
             SELECT max(si.sim) FROM sims si
             WHERE si.ia = c.vec_id
               AND si.ib IN (SELECT vec_id FROM {prev})
           ) AS score
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  ) ORDER BY score DESC, vec_id LIMIT 1
), selu{s} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM sel{s}
)""")
        prev = f"selu{s}"
    return f"""
WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
c0 AS (
  SELECT vec_id, embedding AS vec,
         {_cos_sql('embedding', 'q_vec')} AS rel
  FROM embeddings CROSS JOIN q WHERE vec_id != 0
),
cand AS MATERIALIZED (SELECT * FROM c0 ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),
sims AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {_cos_sql('a.vec', 'b.vec')} AS sim
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
),
sel1 AS MATERIALIZED (SELECT vec_id, rel, 1 AS pick FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
{', '.join(stages)}
SELECT pick, vec_id, {stable_round_sql("rel", 6)} AS rel FROM {prev}
ORDER BY pick
"""


@register(
    "s_mmr_diversify",
    oracle=_mmr_oracle(),
    doc="MMR search-result diversification (greedy, unrolled-stage oracle)",
)
def s_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.mmr_select(
        e, query_vec_id=0, pool=_MMR_POOL, k=_MMR_K, lam=_MMR_LAM
    ).orderBy("pick")


@register(
    "d_canonicalize_dups",
    # Canonical selection AFTER dedup: every duplicate group keeps
    # its argmax-(quality, min id) member and all members redirect to
    # it. Groups are exact raw-text matches (string group key, fine
    # at sf; production passes a fingerprint — see the operator
    # docstring); quality is a deterministic synthetic score
    # (doc_id % 7) so the planted copies (every 10th eligible doc
    # under max(id)+1) genuinely DISAGREE on quality and the argmax
    # does real work — sometimes the copy wins, sometimes the
    # original. The oracle restates the argmax with a window.
    oracle="""
WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT d.doc_id + off.o, d.text FROM documents d, off
  WHERE d.doc_id % 10 = 0 AND length(trim(d.text, ' ')) > 0
),
ranked AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (PARTITION BY text
                            ORDER BY doc_id % 7 DESC, doc_id) AS rn
  FROM aug
),
canon AS (SELECT text, doc_id AS canonical_id FROM ranked WHERE rn = 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT a.text) AS BIGINT) AS n_groups,
       CAST(count_if(a.doc_id <> c.canonical_id) AS BIGINT) AS n_remapped,
       CAST(SUM(c.canonical_id) AS BIGINT) AS sum_canonical
FROM aug a JOIN canon c ON a.text = c.text
""",
    doc="duplicate canonicalization: argmax-(quality, min id) member "
    "survives per exact-dup group, all members redirect to it — the "
    "decide-which-copy-wins step after dedup, with planted copies "
    "whose synthetic quality disagrees with the original's",
)
def d_canonicalize_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineering_hs_spark.operators.dedup import (
        canonicalize_duplicates,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(
        (F.col("doc_id") % 10 == 0) & (F.length(F.trim("text")) > 0)
    )
    aug = d.unionByName(
        _shift_ids(planted, _plant_offset(d, "doc_id"), "doc_id")
    ).withColumn("quality", F.pmod("doc_id", F.lit(7)))
    mapping = canonicalize_duplicates(aug, "text", "quality", "doc_id")
    return mapping.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("text").alias("n_groups"),
        F.sum(
            (F.col("doc_id") != F.col("canonical_id")).cast("long")
        ).alias("n_remapped"),
        F.sum("canonical_id").alias("sum_canonical"),
    )
