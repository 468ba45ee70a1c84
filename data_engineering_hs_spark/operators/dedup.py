"""Deduplication operators for large-scale document pipelines.

Exact + near-dup family, all expressed as DataFrame plans (no Python
in the hot path except none at all — hashing uses xxhash64, a JVM
built-in):

- incremental_exact_dedup:
                       fingerprint (xxhash64 of normalized text) →
                       anti-join against a fingerprint store. One
                       shuffle on an 8-byte key.
- minhash_signatures / minhash_lsh_pairs:
                       shingle → k seeded xxhash64 minima → band →
                       bucket-join. The standard MinHash-LSH
                       construction (Broder 1997; Leskovec et al.,
                       Mining of Massive Datasets ch.3), expressed
                       with higher-order array functions + explode of
                       bands only (never of shingles × seeds).
- simhash64:           64-bit SimHash (Charikar 2002) over token
                       hashes via bit-counting in arrays.
- embedding_near_dups: cosine > threshold pairs over an embedding
                       column (see operators.similarity).

Scale notes: LSH bucket join shuffles on (band, bucket-hash) — skew
appears when a bucket is hot (boilerplate docs); the band hash is
64-bit so genuine hash collisions are rare and AQE skew-join splits
hot buckets. Pair output is bounded by bucket sizes, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.text import (  # noqa: F401 — normalized_text re-exported for existing importers
    fingerprint64,
    normalized_text,
    tokens,
    word_shingles,
)


def dup_groups(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph → canonical
    groups: (doc_id, component) where component = min doc id reachable.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(graph diameter) rounds (near-dup clusters are tiny, so a handful).
    Each round is one join + one groupBy — all shuffles on the node id.
    The driver loop only checks a scalar convergence count per round,
    the data never leaves executors. This is the standard production
    step after LSH: collapse candidate pairs into dedup clusters.

    Raises RuntimeError if max_iters rounds pass without convergence:
    an unconverged label set is a SILENTLY WRONG partition (a long
    chain's tail keeps an intermediate label and the cluster splits in
    two, so canonicalization keeps two "canonical" copies) — raise
    max_iters (propagation needs ~diameter rounds) or use
    dup_groups_star (log-diameter rounds) for deep graphs.

    NULL ids are not nodes (same contract as dup_groups_star): a pair
    with a null side contributes only its non-null id, which survives
    as a singleton component unless other pairs connect it. Before
    this was pinned, a (5, null) pair emitted a spurious (null, null)
    row here while the star form emitted only (5, 5).
    """
    if max_iters < 1:
        # max_iters <= 0 would skip the loop with `changed` still 0,
        # returning identity labels (every node its own component) —
        # exactly the silently-wrong partition the RuntimeError below
        # exists to prevent (dup_groups_star already raises here).
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # Materialize the edge list ONCE: `pairs` is typically an
    # expensive pipeline (LSH + verify, or an all-pairs Jaccard) and
    # every propagation round joins against it — without this
    # checkpoint each round would re-run that whole pipeline (and the
    # convergence count would run it a second time per round).
    edges = (
        pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(
            pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
            .select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # every non-null id ever mentioned — a node whose only pairs are
    # null-sided has no edge, so labels must come from the full node
    # set or it would vanish from the output (dup_groups_star keeps
    # the same explicit node set for its self-loop-only nodes)
    labels = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b").alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
        .withColumn("component", F.col("node"))
    )
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
            )
        )
        # Checkpoint BEFORE the convergence count so the round's join
        # executes once and the count reads the materialized result.
        prev = labels
        labels = updated.localCheckpoint(eager=True)
        changed = (
            labels.alias("u")
            .join(prev.alias("l"), "node")
            .filter(F.col("u.component") != F.col("l.component"))
            .count()
        )
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dup_groups did not converge in {max_iters} rounds "
            f"({changed} labels still changing): the graph's diameter "
            "exceeds the round budget and the current labels are a "
            "WRONG partition — raise max_iters or use dup_groups_star"
        )
    return labels.select(F.col("node").alias("doc_id"), "component")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
    include_missing: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature: array of num_hashes minima.

    signature[i] = min over shingles of xxhash64(shingle, seed=i).

    Physical shape: explode shingles → num_hashes codegen'd
    xxhash64 columns → groupBy(id).agg(min×num_hashes). Spark's
    higher-order array functions (transform/aggregate) evaluate
    lambdas INTERPRETED (no whole-stage codegen) — an earlier
    array-transform formulation ran ~10× slower than this exploded
    form, which stays fully codegen'd. The shuffle is negligible:
    partial aggregation reduces each map task to one row of
    num_hashes minima per doc before the exchange.
    """
    if num_hashes < 1:
        raise ValueError(
            f"num_hashes must be >= 1 (got {num_hashes}): an empty "
            "signature would fail deep in the aggregate with an "
            "internal assertion, not here at the config site"
        )
    # No partition-count probe here: touching df.rdd forces an RDD
    # conversion of the analyzed plan per call. Scan parallelism is
    # the session's job (the factory caps files.maxPartitionBytes
    # locally; a real corpus scans as many splits by construction),
    # and AQE re-balances post-shuffle stages.
    exploded = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, k=shingle_k)).alias("__shingle"),
    )
    minima = exploded.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("__shingle", F.lit(i))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    sig = F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
    with_sig = minima.select(F.col(id_col), sig.alias("signature"))
    if not include_missing:
        return with_sig
    # Docs with no shingles never reach the groupBy (explode drops
    # them); rejoin to surface them with a null signature.
    return df.select(id_col).join(with_sig, id_col, "left")


def lsh_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, bucket) triples: one row per doc per band, bucket =
    xxhash64 of that band's signature slice. The shared banding step
    of batch LSH (minhash_lsh_pairs) and incremental LSH
    (incremental_minhash_lsh) — and the exact rows an LSH band store
    persists between increments."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, "
            f"num_hashes={num_hashes}): a remainder silently drops "
            "hashes from every band, and bands > num_hashes makes "
            "every bucket the hash of an empty slice — one bucket "
            "for the whole corpus"
        )
    r = num_hashes // bands
    # include_missing=False: shingle-less docs can't pair anyway, and
    # skipping the rejoin keeps the plan join-free.
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, include_missing=False
    )
    # Band bucket = hash of that band's signature slice. `signature`
    # is a cheap attribute here (the agg output), so referencing it
    # per band duplicates no compute. xxhash64 hashes the r LONG
    # elements directly (r17, guide §2.3 "per-task work"): the prior
    # form stringified all num_hashes minima and concat_ws'd them per
    # band — 32 string allocs + 8 string builds per doc whose only
    # purpose was to feed the same hash. Fixed-width longs can't
    # recreate concat's boundary ambiguity, and the trailing band
    # literal keeps same-slice-different-band buckets distinct. Bucket
    # VALUES change (a persisted band store from the old scheme is
    # re-bucketed — NORMALIZATION_VERSION bumped); bucket MEMBERSHIP,
    # and therefore every pair output, is identical except for 64-bit
    # hash false-collisions (~0 at any corpus size we can verify;
    # output equality re-proven at sf0.001/0.01/0.1 when this landed).
    band_buckets = F.array(
        *[
            F.xxhash64(
                *[
                    F.element_at("signature", b * r + j + 1)
                    for j in range(r)
                ],
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col),
        F.posexplode(band_buckets).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows_per_band = num_hashes // bands. Docs agreeing on all rows of
    any band land in the same bucket. With b=8, r=4 the S-curve
    threshold is (1/b)^(1/r) ≈ 0.59 Jaccard.

    Physical shape: signatures compute ONCE, then groupBy
    (band, bucket) collects the member ids and pairs are generated
    array-side — no self-join, so the expensive signature pipeline is
    never evaluated twice and the only shuffle carries (band, bucket,
    id) triples. Hot buckets (boilerplate) are the skew risk; bucket
    membership is capped at max_bucket_size with a truncation marker
    rather than letting one reducer generate n² pairs.
    """
    banded = lsh_band_buckets(
        df, text_col, id_col, num_hashes, bands, shingle_k
    )
    return _pairs_from_banded(banded, id_col, max_bucket_size)


def _array_pairs(
    buckets: DataFrame, members_col: str, pair_struct, carry: list[str]
) -> DataFrame:
    """All unordered member pairs of each row's SORTED member array,
    generated ARRAY-SIDE (no self-join): member i pairs with every
    later member via the 1-based ``slice(i+2, size-i-1)`` window.
    ``pair_struct(x, y)`` builds the emitted struct (aliased ``p``)
    from two members; ``carry`` columns ride along per pair. Shared by
    the MinHash, SimHash, prefix-filter and embedding-LSH candidate
    generators — the slice indexing is off-by-one-prone, so it lives
    in exactly one place (same-round lesson as _nearest_topn)."""
    return buckets.select(
        *carry,
        F.explode(
            F.flatten(
                F.transform(
                    F.col(members_col),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col(members_col),
                            i + 2,
                            F.greatest(
                                F.size(members_col) - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: pair_struct(x, y),
                    ),
                )
            )
        ).alias("p"),
    )


def _pairs_from_banded(
    banded: DataFrame, id_col: str, max_bucket_size: int
) -> DataFrame:
    """(id, band, bucket) triples → deduped (id_a, id_b, truncated)
    candidate pairs. Shared by the batch path (minhash_lsh_pairs) and
    the incremental path's within-batch half, so an increment's band
    triples compute ONCE and feed both the pair generation and the
    store commit.

    PROBED AND REJECTED (r17): deduping on an explicit RANGE
    repartition of (id_a, id_b) so a sorting caller's orderBy reuses
    the exchange (one pair shuffle instead of two) measured +5.4% at
    sf0.1 — repartitionByRange bounds its ranges by SAMPLING the
    child, which re-evaluates the pair-generation pipeline once more;
    that pass costs more than the exchange it saves, locally and at
    scale (the sample is a second pass over the pair occurrences).
    Evidence: `git show 7c6b345:scripts_ab_minhash_r17.py`
    --only-fusion.
    """
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .withColumn("truncated", F.size("ids") > max_bucket_size)
        .withColumn("ids", F.slice("ids", 1, max_bucket_size))
    )
    pairs = _array_pairs(
        buckets,
        "ids",
        lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
        ["truncated"],
    )
    # one row per pair; truncated = any contributing bucket was capped,
    # so callers can tell complete output from bounded output
    return (
        pairs.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.max("truncated").alias("truncated"))
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash: sign of per-bit sums of token hashes.

    For each bit position, count tokens whose xxhash64 has that bit
    set vs unset; bit is 1 if set-count > half. Pure array expressions.
    """
    # Exploded + codegen'd shape (see minhash_signatures): explode
    # tokens → one xxhash64 column → groupBy(id) with 64 conditional
    # bit-vote sums + a count. Higher-order array lambdas would run
    # interpreted; these sums stay in whole-stage codegen and reduce
    # map-side via partial aggregation.
    # No df.rdd partition probe (forces plan→RDD conversion); see
    # minhash_signatures for the rationale.
    exploded = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    ).select(F.col(id_col), F.xxhash64("__tok").alias("__h"))
    votes = exploded.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(
                F.shiftright("__h", i).bitwiseAND(F.lit(1)).cast("long")
            ).alias(f"__v{i}")
            for i in range(64)
        ],
    )
    bit_terms = [
        # bit 63 is the sign bit of a signed long.
        F.when(
            F.col(f"__v{i}") * 2 > F.col("__n"),
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    sim = sum(bit_terms[1:], bit_terms[0])
    with_sim = votes.select(F.col(id_col), sim.alias("simhash"))
    # Empty docs never reach the groupBy; surface them with null.
    return df.select(id_col).join(with_sim, id_col, "left")


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming →
    (id_a, id_b, hamming, truncated).

    Blocking (Manku et al., WWW'07): split the 64-bit hash into
    max_hamming+1 near-even chunks (clamped to [4, 16]) — by
    pigeonhole, any pair within the advertised distance differs in at
    most max_hamming chunks and therefore SHARES at least one exact
    chunk, so recall is complete up to min(max_hamming, n_chunks-1)
    (a max_hamming > 15 exceeds what 16 chunks can guarantee; the
    clamp exists because sub-4-bit chunks bucket everything together).
    Chunk-equality is the candidate filter; exact popcount verifies.
    `truncated` marks pairs from buckets capped at max_bucket_size
    members (the same tunable skew cap as minhash_lsh_pairs — a
    boilerplate-heavy corpus concentrates near-identical docs in
    exactly the chunks that explode).
    """
    n_chunks = min(16, max(4, max_hamming + 1))
    base, rem = divmod(64, n_chunks)
    widths = [base + 1 if i < rem else base for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    sims = simhash64(df, text_col, id_col).filter(F.col("simhash").isNotNull())
    chunks = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", offsets[i])
                    .bitwiseAND(F.lit((1 << widths[i]) - 1))
                    .cast("int")
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    # Same no-self-join shape as minhash_lsh_pairs: collect
    # (id, simhash) per chunk bucket once, generate candidate pairs
    # array-side carrying both signatures, verify popcount inline.
    buckets = (
        chunks.groupBy("chunk_idx", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
        .withColumn("truncated", F.size("members") > max_bucket_size)
        .withColumn("members", F.slice("members", 1, max_bucket_size))
    )
    pairs = _array_pairs(
        buckets,
        "members",
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias(
                "hamming"
            ),
        ),
        ["truncated"],
    )
    return (
        pairs.select("p.id_a", "p.id_b", "p.hamming", "truncated")
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b", "hamming")
        .agg(F.max("truncated").alias("truncated"))
    )


def set_similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (PPJoin
    family) → (id_a, id_b, jaccard, truncated).

    Unlike MinHash-LSH this is COMPLETE by construction, not
    probabilistically: order tokens by ascending global frequency,
    keep each doc's first p = n - ceil(t*n) + 1 rarest tokens, and
    any pair with Jaccard >= t MUST share a prefix token (if not,
    their overlap is at most n - p = ceil(t*n) - 1 < t*|A| <= t*|A∪B|,
    contradiction). Candidates therefore come from grouping on prefix
    tokens — the rarest tokens, so groups are small by construction —
    and the exact Jaccard verify runs only on candidates.

    Physical shape mirrors minhash_lsh_pairs: prefix tokens explode,
    (token) groups collect capped sorted id arrays, pairs generate
    array-side (no self-join), then token SETS re-join by id for the
    verify. Shuffles: token-count agg, prefix grouping, two verify
    joins — all on small keys. The frequency ordering makes hot
    groups rare; the cap + `truncated` flag bounds adversarial cases.

    CONTRACT BOUNDARY (measured, sf0.1 sweep): completeness holds
    while every prefix group fits max_bucket_size. On a
    template-heavy corpus whose true pair count is itself O(n²)
    (sf0.1 documents: 5.1M qualifying pairs), groups blow the cap
    and the output switches to the bounded contract — emitted pairs
    remain SOUND (exact Jaccard ≥ t) and every pair from a capped
    group carries truncated=true (test-pinned), but pairs outside
    the capped id sets are not emitted. No candidate generator can
    stay sub-quadratic there; dedup pipelines should treat
    truncated=true as "this group is a near-clique — collapse it by
    group, don't enumerate it".
    """

    base = df.filter(F.length(F.trim(text_col)) > 0).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(tokens(text_col)).alias("__toks"),
    )
    tok = base.select("__id", F.explode("__toks").alias("__tok"))
    # Global frequency rank per token: rarest first; ties broken by
    # token string so the prefix choice is deterministic.
    freq = tok.groupBy("__tok").agg(F.count("*").alias("__df"))
    ranked = tok.join(freq, "__tok").select(
        "__id", F.struct(F.col("__df"), F.col("__tok")).alias("__key")
    )
    by_rarity = ranked.groupBy("__id").agg(
        F.array_sort(F.collect_list("__key")).alias("__ordered")
    )
    n = F.size("__ordered")
    # ceil over the RAW double product overshoots when t·n is
    # mathematically integral but rounds up in binary (0.55×100 =
    # 55.000000000000007 → ceil 56), shortening the prefix by one and
    # silently breaking the completeness guarantee (a J=0.55 pair
    # whose smallest common token sits exactly at prefix position
    # n-⌈tn⌉+1 is missed — test-pinned). Nudging the product DOWN
    # before the ceil only ever lengthens the prefix (extra
    # candidates, never lost ones). The 1e-9 constant implicitly
    # bounds n: it must exceed the FP error of t·n (~t·n·2⁻⁵²), which
    # holds for n·t < ~4e6 — i.e. any real document's token count. If
    # a t·n ever lands mathematically within 1e-9 BELOW an integer,
    # the prefix lengthens by one (extra candidates — safe); only a
    # document with millions of distinct tokens could make the nudge
    # undershoot the FP error and re-open the ceil overshoot.
    p = n - F.ceil(n.cast("double") * threshold - F.lit(1e-9)).cast("int") + 1
    prefix = by_rarity.select(
        "__id", F.explode(F.slice("__ordered", 1, p)).alias("__key")
    ).select("__id", F.col("__key.__tok").alias("__tok"))
    groups = (
        prefix.groupBy("__tok")
        .agg(F.array_sort(F.collect_list("__id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .withColumn("truncated", F.size("ids") > max_bucket_size)
        .withColumn("ids", F.slice("ids", 1, max_bucket_size))
    )
    cand = (
        _array_pairs(
            groups,
            "ids",
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ["truncated"],
        )
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.max("truncated").alias("truncated"))
    )
    ta = base.select(F.col("__id").alias("id_a"), F.col("__toks").alias("__toks_a"))
    tb = base.select(F.col("__id").alias("id_b"), F.col("__toks").alias("__toks_b"))
    inter = F.size(F.array_intersect("__toks_a", "__toks_b"))
    union = F.size(F.array_union("__toks_a", "__toks_b"))
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"), "truncated")
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: batch-over-batch corpus growth
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    batch: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors of a NEW batch against an append-only fingerprint
    store: rows whose content fingerprint is absent from the store
    AND first of its fingerprint within the batch (lowest id wins).
    Output keeps the `fingerprint` column so the caller can commit
    the survivors' fingerprints to the store.

    This is the corpus-growth shape — a 100-TB corpus is built batch
    by batch, and re-fingerprinting the whole corpus per increment is
    a non-starter; only the new batch is scanned, and the join keys
    are 8-byte fingerprints, never text.

    Scale notes: the anti-join shuffles batch + store on the
    fingerprint. streaming.pipelines.streaming_dedup_ingest is the
    store's writer: it commits each batch's fingerprints to a
    per-batch partition and reads the store back with
    read_fingerprint_store, for effectively-exactly-once emission
    under retries (same contract as the JDBC upsert sink).
    """
    from pyspark.sql import Window

    fp = batch.withColumn("fingerprint", fingerprint64(text_col))
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    first = (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if store is None:
        return first
    return first.join(
        store.select("fingerprint"), "fingerprint", "left_anti"
    )


def _read_parquet_if_exists(spark, path: str) -> DataFrame | None:
    """spark.read.parquet(path), or None when the dataset doesn't
    exist yet. Existence is decided by SPARK'S filesystem resolution,
    not driver-local os.path: an os.path.exists probe reports False
    for every non-local URI (s3a://, hdfs://, abfs://), which made
    the incremental stores silently treat a populated remote store as
    "no store yet" — every previously-seen document then survives
    dedup and its fingerprint is committed twice. An existing but
    EMPTY directory (created, no increment committed) also reads as
    None — same "no store yet" semantics."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def check_normalization_version(path: str) -> None:
    """Fail loudly when a persisted fingerprint/band store was built
    under a DIFFERENT normalization version than this code computes
    (functions.text.NORMALIZATION_VERSION): the stored hashes are
    xxhash64 of normalized_text, so a semantics change (r13's
    collapse-then-trim, phantom-token fix) re-fingerprints the same
    document differently and every previously-seen doc with affected
    text gets silently re-admitted as 'new' by the store anti-join.
    A store WITHOUT a stamp (pre-r14, or remote URI) passes — it
    cannot be distinguished from a fresh one; pre-r13 stores must be
    rebuilt (documented contract). Driver-side file read only."""
    from data_engineering_hs_spark.functions.text import (
        NORMALIZATION_VERSION,
    )
    from data_engineering_hs_spark.sources.parquet import (
        NORM_META,
        read_sidecar,
    )

    meta = read_sidecar(path, NORM_META)
    if meta is None:
        return
    recorded = meta.get("normalization_version")
    if recorded != NORMALIZATION_VERSION:
        raise RuntimeError(
            f"store {path} was built with normalization_version="
            f"{recorded} but this code computes version "
            f"{NORMALIZATION_VERSION}: its persisted fingerprints are "
            "not comparable (same text, different hash) and dedup "
            "would silently re-admit previously-seen documents. "
            "Rebuild the store from the source corpus."
        )


def stamp_normalization_version(path: str) -> None:
    """Write the normalization stamp beside a store's data (leading
    underscore ⇒ invisible to the parquet scan). Checks first, so a
    commit into a store built under an older version aborts instead
    of mixing incomparable fingerprints. Best-effort for remote URIs
    (no sidecar), strict for driver-local paths."""
    import os

    from data_engineering_hs_spark.functions.text import (
        NORMALIZATION_VERSION,
    )
    from data_engineering_hs_spark.sources.parquet import (
        NORM_META,
        _local_path,
        write_sidecar,
    )

    check_normalization_version(path)
    local = _local_path(path)
    if local is None:
        return
    # first increment: the store dir may not exist yet (Spark would
    # create it); append-mode writes into a pre-created dir are fine
    os.makedirs(local, exist_ok=True)
    write_sidecar(
        local, NORM_META, {"normalization_version": NORMALIZATION_VERSION}
    )


def read_fingerprint_store(spark, path: str) -> DataFrame | None:
    """The persistent store (parquet dir of `fingerprint` longs);
    None if no increment has been committed yet. Works for any
    Spark-readable URI, not just the driver-local filesystem.
    Raises if the store carries a mismatched normalization stamp
    (check_normalization_version)."""
    check_normalization_version(path)
    return _read_parquet_if_exists(spark, path)


def incremental_minhash_lsh(
    batch: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup CANDIDATE pairs of a new batch: within the batch AND
    against the existing corpus's persisted band-bucket store —
    without re-signaturing the corpus. Returns (pairs, new_bands);
    the caller appends new_bands (the batch's (id, band, bucket)
    triples — exactly what lsh_band_buckets emits) to the store after
    downstream verification commits.

    pairs: (id_a, id_b, truncated), id_a < id_b, deduped across
    bands. Cross pairs join the batch's bands against the store on
    (band, bucket); the store side groups to capped member arrays
    first so a hot boilerplate bucket is bounded, same contract as
    minhash_lsh_pairs. Feed the pairs to dup_groups exactly as in
    the batch path.
    """
    # The band triples feed BOTH halves (within-batch pairs and the
    # store cross-pairs) plus the returned commit frame — checkpoint
    # so the signature pipeline (shingle + num_hashes xxhash64 minima,
    # the dominant batch cost) evaluates once, not once per half.
    # LAZY: building the plan must not fire a job; materialization
    # happens at the caller's first action.
    new_bands = lsh_band_buckets(
        batch, text_col, id_col, num_hashes, bands, shingle_k
    ).localCheckpoint(eager=False)
    within = _pairs_from_banded(new_bands, id_col, max_bucket_size)
    if store is None:
        return within, new_bands
    # Prune the store to the buckets this batch actually touches
    # BEFORE the grouping. Measured honestly at 1M store / 110k batch
    # of SHORT docs this is wall-neutral (the batch side dominates;
    # see SCALE.md) — the prune's real value is MEMORY: store-side
    # member arrays (collect_list) only materialize for the touched
    # ~10% of buckets instead of every bucket in the corpus, which is
    # what bounds the aggregation state when the store is 1000x the
    # batch. The prune is a broadcast semi-join, so the only exchange
    # it adds is the broadcast of the tiny touched set.
    touched = new_bands.select("band", "bucket").distinct()
    old = (
        store.join(F.broadcast(touched), ["band", "bucket"], "left_semi")
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("old_ids"))
        .withColumn("truncated", F.size("old_ids") > max_bucket_size)
        .withColumn("old_ids", F.slice("old_ids", 1, max_bucket_size))
    )
    cross = (
        new_bands.join(old, ["band", "bucket"])
        .select(F.col(id_col).alias("__new"), "old_ids", "truncated")
        .select(
            "__new", F.explode("old_ids").alias("__old"), "truncated"
        )
        .filter(F.col("__new") != F.col("__old"))
        .select(
            F.least("__new", "__old").alias("id_a"),
            F.greatest("__new", "__old").alias("id_b"),
            "truncated",
        )
    )
    pairs = (
        within.unionByName(cross)
        .groupBy("id_a", "id_b")
        .agg(F.max("truncated").alias("truncated"))
    )
    return pairs, new_bands


def dup_groups_star(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the O(log n)-round big-graph upgrade of
    `dup_groups`' min-label propagation, whose round count is the
    graph DIAMETER. Near-dup clusters are shallow so propagation wins
    on simplicity there; chain-shaped graphs (linked sessions, long
    reference chains) need the star algorithm — a 200-node path
    converges in a handful of rounds here vs 200 propagation rounds.

    Both phases are one groupBy(min) + one join per round on the node
    id, exactly the dup_groups shuffle budget per round but with
    exponentially fewer rounds on deep graphs. Emits the same
    (doc_id, component=min reachable id) contract, parity-tested
    against dup_groups — including SELF-LOOP pairs (id_a == id_b),
    which no upstream pair generator emits but a caller may: the node
    is a singleton component of itself. The contraction drops
    self-edges, so such a node survives only via the explicit node
    set kept below (before the fix it silently vanished from the
    output while the propagation form emitted it).
    """
    # every node ever mentioned — the final star forest only covers
    # nodes with surviving non-self edges, so isolated nodes
    # (self-loop-only input) must be re-attached at the end
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .filter(F.col("doc_id").isNotNull())
        .distinct()
    )
    # bidirectional neighbor list; self-loops dropped
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star_round(edges: DataFrame, large: bool) -> DataFrame:
        m = (
            edges.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m"))
        )
        joined = edges.join(m, "u")
        if large:
            moved = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            keep = joined.filter(F.col("v") < F.col("u")).select("u", "v")
        else:
            moved = joined.filter(F.col("v") < F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).unionByName(m.select("u", F.col("m").alias("v")))
            keep = joined.filter(F.col("v") > F.col("u")).select("u", "v")
        out = (
            moved.unionByName(keep)
            .filter(F.col("u") != F.col("v"))
        )
        # re-symmetrize: both phases reason over full neighborhoods
        return (
            out.unionByName(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    converged = False
    for _ in range(max_iters):
        nxt = star_round(e, large=True)
        nxt = star_round(nxt, large=False).localCheckpoint(eager=True)
        # converged when the edge SET is stable (order-free compare)
        if (
            nxt.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(nxt).limit(1).count() == 0
        ):
            e = nxt
            converged = True
            break
        e = nxt
    if not converged:
        raise RuntimeError(
            f"dup_groups_star did not converge in {max_iters} rounds: "
            "the contraction is still moving edges and the star forest "
            "below would be a WRONG partition — raise max_iters "
            "(rounds needed grow with log(diameter), so this indicates "
            "an extreme graph or a budget far too small)"
        )
    # star forest: every node's component is its minimum neighbor
    # (roots keep themselves)
    comp = (
        e.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
    ).select(F.col("u").alias("doc_id"), "component")
    return nodes.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


def canonicalize_duplicates(
    df: DataFrame,
    group_col: str,
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Post-dedup canonical selection: within each duplicate group,
    keep the HIGHEST-quality member (ties broken by smallest id) and
    map every member to it — the step after any dedup that decides
    WHICH copy survives, instead of defaulting to "first seen".

    Returns (id_col, group_col, canonical_id); canonical rows map to
    themselves, so `filter(id == canonical_id)` is the surviving
    corpus and the full frame is the redirect table an index/serving
    layer needs.

    One groupBy on the group key (argmax via min-of-struct —
    (-quality, id), so the tie order is total and the id can be ANY
    orderable type, numeric or not; a NULL quality coalesces to -inf
    and loses to every scored member) + one join back on the same
    key: co-partitioned after the first shuffle. Rows whose
    group_col is NULL are not duplicates of anything — they map to
    themselves instead of being grouped together (or dropped by a
    null-unsafe join). `quality_col` must be numeric. At corpus
    scale pass a FINGERPRINT as group_col (xxhash64 of the
    normalized text), not the text itself — the group key rides two
    shuffles. Callers with near-dup groups feed the component id
    from dup_groups/dup_groups_star as group_col.
    """
    grouped = df.filter(F.col(group_col).isNotNull())
    best = (
        grouped.groupBy(group_col)
        .agg(
            F.min(
                F.struct(
                    (
                        -F.coalesce(
                            F.col(quality_col).cast("double"),
                            F.lit(float("-inf")),
                        )
                    ).alias("nq"),
                    F.col(id_col).alias("cid"),
                )
            ).alias("__b")
        )
        .select(group_col, F.col("__b.cid").alias("canonical_id"))
    )
    mapped = grouped.select(id_col, group_col).join(best, group_col).select(
        id_col, group_col, "canonical_id"
    )
    selfmapped = df.filter(F.col(group_col).isNull()).select(
        F.col(id_col),
        F.col(group_col),
        F.col(id_col).alias("canonical_id"),
    )
    return mapped.unionByName(selfmapped)
