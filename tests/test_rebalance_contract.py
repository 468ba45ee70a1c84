"""Rebalance OPT-IN contract (r17, verdict follow-up).

catalog.load_table's ``scan_parallel_key`` rescues heavy map pipelines
from physically unsplittable parquet (single-row-group files scan as
ONE non-empty task), but it is OPT-IN because a blanket rebalance
measured +33% on the headline total (r16): the exchange is pure cost
wherever the map side is cheap. That makes silent regressions possible
— an author adds a new shingle/score-heavy query over ``documents``
and inherits the single-task scan without knowing the knob exists.

This test pins the decision ledger. Every query function that loads
``documents`` or ``embeddings`` must appear below, either in OPT_IN
(rebalances, with the measured win recorded in OPTIMIZATION_r16/r17)
or in OPT_OUT (measured or reasoned leave-alone). Adding a new such
query fails this test until the author makes a conscious rebalance
decision and records it here.
"""

from __future__ import annotations

import ast
import glob
import os

QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_hs_spark",
    "queries",
)

# (function, table) pairs that pass scan_parallel_key. Each carries a
# measured interleaved-A/B win (OPTIMIZATION_r16.md): d_minhash_lsh
# -20.2%, t_segment_dedup -24.0%, t_curate_training_set -11.0%.
OPT_IN = {
    ("d_minhash_lsh", "documents"),
    ("t_curate_training_set", "documents"),
    ("t_segment_dedup", "documents"),
}

# Functions that load documents/embeddings WITHOUT the rebalance.
# Rationale classes (details in OPTIMIZATION_r16.md / SCALE.md):
#   - cheap map side: the exchange costs more than it parallelizes
#     (measured rejections: s_bm25 +30.8%, s_cosine +5.8/+27%,
#     t_text_stats +3.9%, blanket +33%);
#   - embeddings queries: fold cost ~0.16 s is below exchange cost
#     at driver SF, candidate sets are the design's own bound;
#   - non-bench audit/store paths where the scan is not the cost.
OPT_OUT = {
    ("d_canonicalize_dups", "documents"),
    ("d_decontam_overlap", "documents"),
    ("d_dup_components_lsh", "documents"),
    ("d_exact_dup_summary", "documents"),
    ("d_incremental_dedup", "documents"),
    ("d_incremental_lsh", "documents"),
    ("d_minhash_lsh_audit", "documents"),
    ("d_ngram_jaccard", "documents"),
    ("d_setsim_pairs", "documents"),
    ("d_simhash_pairs", "documents"),
    ("d_winnow_fingerprints", "documents"),
    ("dq_profile_documents", "documents"),
    ("dq_profile_embeddings", "embeddings"),
    ("f_pii_scrub", "documents"),
    ("p_substring_prefilter", "documents"),
    ("s_bm25_topk", "documents"),
    ("s_centroids", "embeddings"),
    ("s_cosine_topk", "embeddings"),
    ("s_cosine_topk_arrow", "embeddings"),
    ("s_embedding_near_dup", "embeddings"),
    ("s_hier_assign", "embeddings"),
    ("s_hybrid_rrf", "documents"),
    ("s_hybrid_rrf", "embeddings"),
    ("s_ivf_adc_store", "embeddings"),
    ("s_ivf_adc_topk", "embeddings"),
    ("s_ivf_store_append", "embeddings"),
    ("s_ivf_topk", "embeddings"),
    ("s_lsh_topk", "embeddings"),
    ("s_mmr_diversify", "embeddings"),
    ("s_pq_topk", "embeddings"),
    ("s_semdedup", "embeddings"),
    ("st_compact_ingest", "documents"),
    ("t_boilerplate_ratio", "documents"),
    ("t_chunk_documents", "documents"),
    ("t_common_ngrams", "documents"),
    ("t_domain_mix", "documents"),
    ("t_feature_hash", "documents"),
    ("t_hash_split", "documents"),
    ("t_heavy_hitters", "documents"),
    ("t_langid", "documents"),
    ("t_negative_pairs", "documents"),
    ("t_pack_contexts", "documents"),
    ("t_quality_buckets", "documents"),
    ("t_quality_components", "documents"),
    ("t_quality_score", "documents"),
    ("t_repetition_stats", "documents"),
    ("t_shuffle_shards", "documents"),
    ("t_stratified_sample", "documents"),
    ("t_text_stats", "documents"),
    ("t_token_counts", "documents"),
    ("t_token_histogram", "documents"),
}


def _scan_sites() -> tuple[set, set]:
    """(opted_in, opted_out) sets of (enclosing function, table) for
    every load_table call over documents/embeddings in queries/."""
    opted_in: set = set()
    opted_out: set = set()
    for path in sorted(glob.glob(os.path.join(QUERIES_DIR, "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Name)
                    and call.func.id == "load_table"
                ):
                    continue
                tables = [
                    a.value
                    for a in call.args
                    if isinstance(a, ast.Constant)
                    and a.value in ("documents", "embeddings")
                ]
                if not tables:
                    continue
                keyed = any(
                    k.arg == "scan_parallel_key" for k in call.keywords
                )
                (opted_in if keyed else opted_out).add((fn.name, tables[0]))
    return opted_in, opted_out


def test_opt_in_set_is_exactly_the_measured_winners():
    opted_in, _ = _scan_sites()
    assert opted_in == OPT_IN, (
        "scan_parallel_key opt-in set drifted. New opt-in must carry a "
        f"measured A/B win; removal must be recorded. Diff: "
        f"+{opted_in - OPT_IN} -{OPT_IN - opted_in}"
    )


def test_every_corpus_query_made_a_rebalance_decision():
    _, opted_out = _scan_sites()
    unaudited = opted_out - OPT_OUT
    assert not unaudited, (
        "New query over documents/embeddings without a rebalance "
        f"decision: {sorted(unaudited)}. Measure scan_parallel_key "
        "(heavy map side over an unsplittable input usually wins; "
        "cheap map side usually loses) and pin the outcome here."
    )
    stale = OPT_OUT - opted_out
    assert not stale, f"OPT_OUT entries no longer in the source: {sorted(stale)}"
