"""Corpus-level text hygiene operators (training-data pipeline).

- common_ngrams: the C4-style boilerplate table — word n-grams that
  occur in ≥ min_docs DISTINCT documents. At 100 TB this is the
  frequent-pattern side table the cleaning pass filters against;
  the shuffle carries (ngram, doc_id) pairs pre-deduped per doc.
- boilerplate_ratio: per-document fraction of distinct shingles that
  are corpus-frequent — a quality signal alongside
  functions.text.quality_score (high ratio ⇒ template/boilerplate
  page, a standard pre-training drop criterion).
- winnowing_fingerprints: MOSS-style winnowing (Schleimer et al.,
  SIGMOD'03) over word k-gram hashes: keep the minimum hash of every
  sliding window of w consecutive grams, distinct per doc. The
  guarantee: any shared run of ≥ w+k-1 words between two documents
  shares at least one fingerprint, with ~2/(w+1) of grams kept —
  bounded-size positional fingerprints for passage-level overlap
  detection (finer than MinHash's whole-doc Jaccard).

Physical shapes: everything reduces to explode → groupBy/window on
(doc_id | ngram) keys — map-side partial aggregation applies, no
self-joins, no collect.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.scalar import bind_once
from data_engineering_hs_spark.functions.text import (
    tokens,
    word_shingle_seq,
    word_shingles,
)


def _det_key(seed: str, id_col: str):
    """md5(seed:id) — THE deterministic pseudo-random draw every
    split/sample/shard in this module orders or buckets by. One
    definition on purpose: the key's bit-stability across runs,
    partitionings and engines is the module's reproducibility
    guarantee, and the four hand-maintained copies it replaces were
    one separator tweak away from splits silently drifting relative
    to shards."""
    return F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )


def _det_bucket(key_col, modulus: int):
    """Integer bucket from a _det_key column: first 8 hex digits →
    long, mod `modulus`. Shared by hash_split and shuffle_shards so
    the bucket derivation can't drift from the key definition."""
    return (
        F.conv(F.substring(key_col, 1, 8), 16, 10).cast("long") % modulus
    )


def common_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_docs: int = 2,
    min_doc_frac: float | None = None,
) -> DataFrame:
    """(ngram, n_docs) for word n-grams in ≥ min_docs distinct docs.

    Shingles are deduped per document BEFORE the shuffle (explode of
    the distinct-shingle array), so n_docs = COUNT(*) — no expensive
    COUNT(DISTINCT) on the reduce side.

    min_doc_frac (exclusive with the absolute default): "common" means
    present in ≥ ceil(min_doc_frac × total distinct docs) documents —
    the SCALE-INVARIANT form. An absolute min_docs threshold degrades
    with corpus size: at 10× the docs nearly every shingle from a
    finite template pool clears a fixed count and the whole corpus
    classifies as boilerplate (measured: pipeline selectivity 160/500
    at sf0.01 → 0/4992 at sf0.1 under min_docs=5; 0.320 → 0.318 under
    min_doc_frac=0.01). The threshold is computed in exact integer
    arithmetic — ceil(frac·n) as (n·round(frac·1e6) + 999999) DIV 1e6 —
    so no float boundary can flip it between engines; exact while
    n_docs_total ≤ ~9.2e12 (long headroom past any real corpus).
    The one-row total is broadcast; no extra shuffle beyond the count.
    """
    exploded = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k=n)).alias("ngram")
    )
    counts = exploded.groupBy("ngram").agg(F.count("*").alias("n_docs"))
    if min_doc_frac is None:
        return counts.filter(F.col("n_docs") >= min_docs)
    if not (0.0 < min_doc_frac <= 1.0):
        raise ValueError(f"min_doc_frac must be in (0, 1], got {min_doc_frac}")
    num = int(round(min_doc_frac * 1_000_000))
    total = df.select(
        F.count_distinct(F.col(id_col)).alias("__n_docs_total")
    )
    return (
        counts.join(F.broadcast(total))
        .filter(
            F.col("n_docs")
            >= F.expr(f"(__n_docs_total * {num}L + 999999L) DIV 1000000L")
        )
        .drop("__n_docs_total")
    )


def boilerplate_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_docs: int = 2,
    min_doc_frac: float | None = None,
) -> DataFrame:
    """(id, n_shingles, n_common, boilerplate_ratio) per document —
    EVERY document: one with fewer than n words has no n-grams and
    scores (0, 0, 0.0), the same every-row contract repetition_stats
    keeps (explode drops such docs before the groupBy, so without the
    rejoin they silently vanished from the output and an inner-joining
    quality pipeline dropped them).

    ratio = fraction of the doc's DISTINCT n-grams that are
    corpus-frequent. The frequent table is usually small (heavy-tail
    cutoff) but not provably so — the join is a plain equi-join on
    the ngram and AQE may broadcast it; no hint is forced.

    min_doc_frac selects common_ngrams' scale-invariant fractional
    threshold (see its docstring for why a corpus-scale pipeline must
    use it instead of an absolute min_docs).
    """
    freq = common_ngrams(
        df, text_col, id_col, n=n, min_docs=min_docs, min_doc_frac=min_doc_frac
    ).select("ngram", F.lit(True).alias("is_common"))
    exploded = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k=n)).alias("ngram")
    )
    per_doc = (
        exploded.join(freq, "ngram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("is_common"), 1)).alias("n_common"),
        )
    )
    # distinct: the contract is ONE output row per doc id (the pre-
    # rejoin groupBy collapsed duplicate ids; a bare select would emit
    # one row per INPUT row — a silent cardinality change for callers
    # joining on id).
    return df.select(id_col).distinct().join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        F.coalesce(
            F.col("n_common").cast("double")
            / F.col("n_shingles").cast("double"),
            F.lit(0.0),
        ).alias("boilerplate_ratio"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, fingerprint) — distinct winnowed k-gram hashes per doc.

    posexplode the positional shingle hashes, take the min over each
    sliding window of `window` grams (a RANGE-free ROWS frame — pure
    window aggregate, one shuffle on the doc id), keep distinct
    minima. Documents shorter than k+window-1 words yield the min of
    whatever grams exist (≥1 gram ⇒ ≥1 fingerprint), matching the
    reference algorithm's behavior on short inputs.
    """
    hashes = df.select(
        F.col(id_col),
        F.posexplode(word_shingle_seq(text_col, k=k)).alias("pos", "shingle"),
    ).select(F.col(id_col), F.col("pos"), F.xxhash64("shingle").alias("h"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    windowed = hashes.select(
        F.col(id_col),
        "pos",
        F.min("h").over(w).alias("win_min"),
        F.max("pos").over(Window.partitionBy(id_col)).alias("max_pos"),
    )
    # Only complete windows emit (plus the degenerate short-doc case
    # where no complete window exists: pos 0 emits the global min).
    complete = windowed.filter(
        (F.col("pos") <= F.col("max_pos") - window + 1)
        | ((F.col("max_pos") < window - 1) & (F.col("pos") == 0))
    )
    return complete.select(
        F.col(id_col), F.col("win_min").alias("fingerprint")
    ).distinct()


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    seed: str = "v1",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic content-keyed train/val/test assignment.

    bucket = first 8 hex digits of md5(seed:id) mod 10,000;
    cumulative weight thresholds map buckets to split names. The
    assignment is a pure function of (seed, id) — stable under
    repartitioning, reordering, incremental appends, and engine
    choice (md5 is bit-identical everywhere, unlike sample()/rand(),
    whose results depend on partitioning) — the property a training
    pipeline needs so examples never migrate between splits across
    runs. Change `seed` to draw a fresh independent assignment.

    NULL ids: md5 of NULL is NULL, every bucket comparison evaluates
    NULL, and the row falls through to the LAST split — which is
    usually the small eval split, i.e. silent contamination. Gate
    NULL ids upstream (quality.assertions not_null) rather than
    relying on that accident.
    """
    # `0 < w < inf` rather than `w <= 0`: NaN fails BOTH comparisons
    # and inf makes the weight total inf (inf/inf is NaN), and either
    # would otherwise die far away in int(round(acc * buckets)) with
    # no mention of the bad weight.
    if not splits or any(not (0 < w < math.inf) for _, w in splits):
        raise ValueError(
            f"hash_split needs at least one split, every weight > 0 "
            f"and finite (got {list(splits)!r}): a non-positive, "
            "infinite or NaN weight yields an empty, inverted or "
            "undefined split range"
        )
    buckets = 10_000
    total = sum(w for _, w in splits)
    bucket = _det_bucket(_det_key(seed, id_col), buckets)
    expr = None
    acc = 0.0
    for name, w in splits[:-1]:
        acc += w / total
        cond = bucket < int(round(acc * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_quota_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quota: int,
    seed: str = "v1",
) -> DataFrame:
    """EXACTLY `quota` rows per stratum (fewer if the stratum is
    smaller), chosen by md5(seed:id) order — a deterministic
    pseudo-random draw.

    sampleBy() gives probabilistic per-stratum counts and
    partitioning-dependent membership; eval-set construction needs
    exact quotas and run-to-run stability. One window shuffle on the
    stratum; ties are impossible (md5 of distinct ids collides with
    negligible probability, and the id itself tiebreaks).
    """
    rank_key = _det_key(seed, id_col)
    w = Window.partitionBy(strata_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al.
    2021 §A1.1 repetition filters), per document:

    - ``top_{top_n}gram_frac``: occurrences of the single most
      frequent word top_n-gram / all top_n-gram occurrences — high
      when one phrase loops.
    - ``dup_{dup_n}gram_frac``: occurrences of dup_n-grams that
      appear more than once / all dup_n-gram occurrences — high for
      templated/spun text even when no single phrase dominates.

    Docs with fewer than n words score 0.0 (nothing repeated).

    Physical shape: explode the shingle SEQUENCE (not distinct) →
    groupBy(doc, gram) count → groupBy(doc) max/sum — both
    aggregations reduce map-side; no self-joins, no windows. The
    standard pre-training drop criterion pairs this with
    functions.text.quality_score.
    """

    def per_doc(n: int, out: str) -> DataFrame:
        grams = df.select(
            F.col(id_col),
            F.explode(word_shingle_seq(text_col, n)).alias("__g"),
        )
        counts = grams.groupBy(id_col, "__g").agg(F.count("*").alias("__c"))
        return counts.groupBy(id_col).agg(
            F.max("__c").alias(f"__top_{out}"),
            F.sum("__c").alias(f"__tot_{out}"),
            F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias(
                f"__dup_{out}"
            ),
        )

    top = per_doc(top_n, "a")
    dup = per_doc(dup_n, "b")
    return (
        df.select(id_col)
        .join(top, id_col, "left")
        .join(dup, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("__top_a").cast("double") / F.col("__tot_a"), F.lit(0.0)
            ).alias(f"top_{top_n}gram_frac"),
            F.coalesce(
                F.col("__dup_b").cast("double") / F.col("__tot_b"), F.lit(0.0)
            ).alias(f"dup_{dup_n}gram_frac"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least
    one word n-gram with the benchmark set → (doc_id, n_shared),
    n_shared = DISTINCT shared n-grams. Inner-join semantics: clean
    documents don't appear — the caller anti-joins this against the
    corpus to drop or flag contaminated docs.

    Production pipelines use n=8..13 (the GPT-3/PaLM convention);
    the registry query uses n=4 so the synthetic 31-word-vocabulary
    corpus yields a non-vacuous oracle.

    Scale shape: the benchmark side is a test SET (MBs, bounded) —
    its distinct grams broadcast; the corpus side explodes distinct
    grams per doc and equi-joins, so the big side never shuffles.
    """
    bench_grams = benchmark.select(
        F.explode(word_shingles(text_col, n)).alias("__g")
    ).distinct()
    doc_grams = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("__g")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def weighted_quota_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quotas: dict[str, int],
    seed: str = "v1",
) -> DataFrame:
    """Domain mixing: exact PER-STRATUM quotas (the corpus-mixture
    primitive — N_web from web, N_code from code...), drawn by the
    same deterministic md5(seed:id) order as stratified_quota_sample.
    Strata absent from `quotas` are dropped entirely — a mixture
    recipe is also a filter. Deterministic across runs/partitionings,
    so mixtures are reproducible and auditable.

    One window shuffle on the stratum; the quota map rides along as a
    literal MapType expression (no join, no broadcast)."""
    if not quotas:
        # an empty recipe selects nothing; create_map() with zero
        # entries is a VOID-typed map whose lookup fails ANALYSIS
        # (fuzz-found crash), so short-circuit to the documented
        # drop-everything semantics
        return df.filter(F.lit(False))
    qmap = F.create_map(
        *[F.lit(x) for k, v in quotas.items() for x in (k, v)]
    )
    rank_key = _det_key(seed, id_col)
    w = Window.partitionBy(strata_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__quota", qmap[F.col(strata_col)])
        .filter(F.col("__quota").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__quota", "__rn")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Sliding-window token chunking → (doc_id, chunk_id, chunk_text,
    n_tokens): the context-window preparation step of a pretraining
    pipeline. Stride = chunk_tokens - overlap; a trailing start that
    would add no tokens beyond the previous chunk\'s overlap is
    suppressed (s == 1 OR s <= n - overlap), so short docs emit
    exactly one chunk and no chunk is a subset of its predecessor.
    Empty docs emit nothing.

    Pure array expressions (tokenize once → sequence → filter →
    posexplode → slice): no UDFs, no shuffle — chunking is
    embarrassingly parallel and stays inside the scan stage.
    """
    if chunk_tokens < 1:
        raise ValueError(
            f"chunk_tokens must be >= 1 (got {chunk_tokens})"
        )
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens) (got {overlap}): a "
            "negative overlap makes stride > chunk_tokens and tokens "
            "between chunks silently appear in NO chunk"
        )
    stride = chunk_tokens - overlap
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride)),
        lambda s: (s == 1) | (s <= n - overlap),
    )
    return (
        base.filter(n > 0)
        .select(
            F.col(id_col),
            F.col("__toks"),
            n.alias("__n"),
            F.posexplode(starts).alias("chunk_id", "__s"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.array_join(
                F.slice(F.col("__toks"), F.col("__s"), F.lit(chunk_tokens)),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.col("__n") - F.col("__s") + F.lit(1)
            ).alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    target: int = 2048,
    shards: int = 64,
) -> DataFrame:
    """Greedy sequential packing of items into capacity-`target` bins
    (context-window packing: fill each training sequence with whole
    chunks, minimal padding). Genuinely order-dependent, so it runs
    shard-local: items hash-shard by id, are packed in id order WITHIN
    each shard, and bins never cross shards — embarrassingly parallel,
    deterministic for a fixed `shards`, and exactly what production
    packers do (global optimal bin packing is NP-hard and pointless at
    corpus scale; shard-local greedy wastes <1 item per bin).

    Output: (id, size, shard, bin_id) — bin identity is the (shard,
    bin_id) pair. Items larger than `target` get a bin alone
    (oversize=true) rather than being dropped silently.

    The ONE sequential op in the pipeline — an Arrow-batched
    applyInPandas per shard (O(items) python, no JVM round-trips);
    everything upstream/downstream stays in codegen.
    """
    import pandas as pd

    from pyspark.sql import types as T

    if target < 1 or shards < 1:
        raise ValueError(
            f"pack_sequences needs target >= 1 and shards >= 1 (got "
            f"target={target}, shards={shards}): target<=0 silently "
            "marks EVERY item oversize in its own bin — one bin per "
            "item at corpus scale"
        )
    # Preserve the input id type (same contract as mmr_select): a
    # LongType literal here silently turned string/decimal ids into
    # NULLs via the cast below.
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("size", T.LongType()),
            T.StructField("shard", T.IntegerType()),
            T.StructField("bin_id", T.LongType()),
            T.StructField("oversize", T.BooleanType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["size"].isna().any():
            # a null size arrives as NaN (Arrow int64-with-nulls →
            # float64) and NaN comparisons are all False, so the
            # greedy fill never closes a bin again — every subsequent
            # item in the shard silently lands in one over-capacity
            # bin. A row with no size cannot be packed; fail loudly.
            nulls = pdf["size"].isna()
            bad = pdf.loc[nulls, "id"].head(3).tolist()
            raise ValueError(
                f"pack_sequences: {int(nulls.sum())} null size values "
                f"would poison the greedy fill (e.g. ids {bad}); drop "
                "or impute null-size rows upstream"
            )
        if (pdf["size"] < 0).any():
            # same poison, different sign: a negative size always
            # "fits", so the bin never closes and the whole shard
            # lands in one giant bin. Sizes are token counts —
            # negative means upstream corruption.
            neg = pdf["size"] < 0
            bad = pdf.loc[neg, "id"].head(3).tolist()
            raise ValueError(
                f"pack_sequences: {int(neg.sum())} negative size "
                f"values (e.g. ids {bad}); sizes are token counts "
                "and must be >= 0"
            )
        pdf = pdf.sort_values("id").reset_index(drop=True)
        bin_ids, oversize = [], []
        b, fill = 0, 0
        for sz in pdf["size"]:
            if fill > 0 and fill + sz > target:
                b, fill = b + 1, 0
            bin_ids.append(b)
            oversize.append(sz > target)
            fill += sz
            if sz > target:  # oversize sits alone; next item opens fresh
                b, fill = b + 1, 0
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        pdf["oversize"] = pd.Series(oversize, dtype="bool")
        return pdf

    prepared = df.select(
        F.col(id_col).alias("id"),
        F.col(size_col).cast("long").alias("size"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
        .cast("int")
        .alias("shard"),
    )
    return prepared.groupBy("shard").applyInPandas(pack, out_schema)


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """C4-style exact segment-level dedup (Raffel et al., JMLR'20 §2.2
    dedupe repeated three-sentence spans; line-level in CCNet). The
    synthetic corpus has no sentence boundaries, so the unit is a
    fixed window of `seg_tokens` consecutive tokens — same semantics,
    deterministic segmentation.

    Every segment is kept only at its globally-first occurrence
    (minimum (doc_id, seg_idx) over all copies); later copies are
    dropped. Returns per document: segment counts, kept counts, and
    the deduplicated text (kept segments rejoined in order).

    Physical shape: segments explode to one row per (doc, seg_idx);
    the winner is a min over a window partitioned by segment text —
    ONE hash shuffle on the segment string (skew-safe: a segment
    repeated millions of times still reduces via partial min), then
    one shuffle back on doc_id to reassemble. No self-join, no
    collect; state is O(distinct segments)."""
    # tokens() bind_once'd (r16): the old form referenced the split
    # in n_segs AND inside the per-segment transform lambda — HOF
    # lambdas are CodegenFallback with no subtree CSE, so the full
    # regex split re-ran once per SEGMENT per row (the O(words x
    # segments) shape word_shingle_seq's docstring warns about)
    def build(toks: Column) -> Column:
        n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n_segs, F.lit(1))),
            lambda i: F.struct(
                i.alias("seg_idx"),
                F.concat_ws(
                    " ",
                    F.slice(toks, (i - F.lit(1)) * seg_tokens + 1, seg_tokens),
                ).alias("seg"),
            ),
        )

    segs = bind_once(tokens(F.col(text_col)), build)
    exploded = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(segs).alias("s"))
        .select("doc_id", F.col("s.seg_idx").alias("seg_idx"), F.col("s.seg").alias("seg"))
        .filter(F.col("seg") != "")
    )
    w = Window.partitionBy("seg")
    winner = exploded.withColumn(
        "__win",
        F.min(F.struct("doc_id", "seg_idx")).over(w),
    ).withColumn(
        "kept",
        (F.col("doc_id") == F.col("__win.doc_id"))
        & (F.col("seg_idx") == F.col("__win.seg_idx")),
    )
    kept_in_order = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("kept"), F.struct("seg_idx", "seg"))
            )
        ),
        lambda s: s["seg"],
    )
    return (
        winner.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.concat_ws(" ", kept_in_order).alias("dedup_text"),
        )
    )


def feature_hash_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
) -> DataFrame:
    """Hashing-trick count vectorizer → (id, indices, counts), sparse.

    index(token) = pmod(xxhash64(token), dim); counts accumulate per
    (id, index) and collect sorted by index — a deterministic sparse
    vector (two shuffles on id-keyed groups; the explode→groupBy form
    stays whole-stage-codegen'd, unlike per-element HOF lambdas).
    The unsigned counting variant preserves the L1 invariant
    sum(counts) == token count EXACTLY under any collision pattern —
    the cross-engine-checkable conservation law its registry query
    hashes. (The signed variant that unbiases dot products trades
    that away; add a sign = xxhash64(token, 1) % 2 factor when an
    unbiased kernel matters more than the audit.)
    """
    from data_engineering_hs_spark.functions.text import tokens

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("__tok"),
    )
    cell = toks.select(
        id_col, F.pmod(F.xxhash64("__tok"), F.lit(dim)).alias("idx")
    ).groupBy(id_col, "idx").agg(F.count("*").alias("cnt"))
    return (
        cell.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "cnt"))
            ).alias("__cells")
        )
        .select(
            F.col(id_col),
            F.transform("__cells", lambda s: s["idx"]).alias("indices"),
            F.transform("__cells", lambda s: s["cnt"]).alias("counts"),
        )
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: str = "v1",
    shard_col: str = "shard",
    key_col: str = "shuffle_key",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    data loaders: key = md5(seed:id), shard = uint64(key[:8 hex])
    mod n_shards, rows ordered by key within each shard.

    A training run wants the corpus in pseudo-random order, split
    into a fixed number of shard files, and wants that order to be
    REPRODUCIBLE — independent of input partitioning, cluster size,
    or append order (rand()/repartition-based shuffles are none of
    these). Keying on a cryptographic digest of (seed, id) gives an
    order that is uniform, stable across engines, and re-drawable by
    changing the seed.

    Physical shape (the 100-TB path): ONE hash shuffle —
    repartition(n_shards, shard) — then sortWithinPartitions(shard,
    key): per-shard local sort, NO global order/range-exchange. All
    rows of a shard land in one task (hash partitioning is a pure
    function of the shard id; two shards may share a task, where the
    leading sort key keeps them contiguous), so writing with
    partitionBy(shard) yields one reproducible, internally-ordered
    file per shard.
    """
    keyed = df.withColumn(key_col, _det_key(seed, id_col)).withColumn(
        shard_col, _det_bucket(F.col(key_col), n_shards).cast("int")
    )
    return keyed.repartition(n_shards, F.col(shard_col)).sortWithinPartitions(
        shard_col, key_col
    )
