"""Fuzz-parity lens, batch 3: exact Jaccard pairs vs naive all-pairs
set math, Gopher repetition fractions vs a naive n-gram counter,
boilerplate_ratio vs a naive corpus-frequency join, and incremental
MinHash-LSH replayed over random increment splits vs the one-shot
batch path. Random inputs include null/empty texts and sub-n-gram
short docs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

FUZZ = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.lists(
    st.sampled_from(["red", "blue", "fox", "dog", "run"]),
    min_size=0,
    max_size=10,
)
doc_texts = st.lists(
    st.one_of(st.none(), st.just(""), words.map(" ".join)),
    min_size=0,
    max_size=10,
)


def _toks(text):
    return text.strip().split() if text and text.strip() else []


def _grams(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


# ---------------------------------------------------------------------------
# repetition_stats vs naive Gopher fractions
# ---------------------------------------------------------------------------


@given(texts=doc_texts)
@FUZZ
def test_fuzz_repetition_stats_match_naive(spark, texts):
    from collections import Counter

    from data_engineering_hs_spark.operators.corpus import repetition_stats

    rows = list(enumerate(texts))
    df = spark.createDataFrame(
        rows or [(None, None)], "doc_id int, text string"
    ).filter("doc_id is not null")
    got = {
        r["doc_id"]: (r["top_2gram_frac"], r["dup_3gram_frac"])
        for r in repetition_stats(df, "text", "doc_id", top_n=2, dup_n=3).collect()
    }
    assert set(got) == {i for i, _ in rows}
    for i, text in rows:
        toks = _toks(text)
        c2 = Counter(_grams(toks, 2))
        c3 = Counter(_grams(toks, 3))
        top = max(c2.values()) / sum(c2.values()) if c2 else 0.0
        dup = (
            sum(c for c in c3.values() if c > 1) / sum(c3.values())
            if c3
            else 0.0
        )
        assert got[i][0] == pytest.approx(top), (texts, i)
        assert got[i][1] == pytest.approx(dup), (texts, i)


# ---------------------------------------------------------------------------
# boilerplate_ratio vs naive corpus-frequency join
# ---------------------------------------------------------------------------


@given(texts=doc_texts, min_docs=st.sampled_from([2, 3]))
@FUZZ
def test_fuzz_boilerplate_ratio_matches_naive(spark, texts, min_docs):
    from collections import Counter

    from data_engineering_hs_spark.operators.corpus import boilerplate_ratio

    n = 2
    rows = list(enumerate(texts))
    df = spark.createDataFrame(
        rows or [(None, None)], "doc_id int, text string"
    ).filter("doc_id is not null")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_common"], r["boilerplate_ratio"])
        for r in boilerplate_ratio(df, "text", "doc_id", n=n, min_docs=min_docs).collect()
    }
    shingle_sets = {i: set(_grams(_toks(x), n)) for i, x in rows}
    doc_freq = Counter(g for s in shingle_sets.values() for g in s)
    common = {g for g, c in doc_freq.items() if c >= min_docs}
    assert set(got) == set(shingle_sets)
    for i, s in shingle_sets.items():
        nc = len(s & common)
        exp_ratio = nc / len(s) if s else 0.0
        assert got[i][0] == len(s) and got[i][1] == nc, (texts, i)
        assert got[i][2] == pytest.approx(exp_ratio), (texts, i)


# ---------------------------------------------------------------------------
# incremental_minhash_lsh over random splits: union of per-increment
# candidate pairs == the one-shot batch path over the full corpus
# (uncapped buckets; truncation flags out of scope)
# ---------------------------------------------------------------------------

batches_strategy = st.lists(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000), words.map(" ".join)),
        min_size=0,
        max_size=6,
    ),
    min_size=1,
    max_size=3,
)


@given(batches=batches_strategy)
@FUZZ
def test_fuzz_incremental_lsh_union_matches_one_shot(spark, batches):
    from data_engineering_hs_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_lsh_pairs,
    )

    kw = dict(num_hashes=8, bands=4, shingle_k=2, max_bucket_size=10_000)
    seen: set[int] = set()
    uniq = []
    for b in batches:
        rows = []
        for i, t in b:
            if i not in seen:
                seen.add(i)
                rows.append((i, t))
        uniq.append(rows)

    store = None
    got: set[tuple[int, int]] = set()
    for rows in uniq:
        bdf = spark.createDataFrame(
            rows or [(None, None)], "doc_id long, text string"
        ).filter("doc_id is not null")
        pairs, new_bands = incremental_minhash_lsh(
            bdf, store, "text", "doc_id", **kw
        )
        got |= {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        store = (
            new_bands if store is None else store.unionByName(new_bands)
        ).localCheckpoint(eager=True)

    all_rows = [r for rows in uniq for r in rows]
    full = spark.createDataFrame(
        all_rows or [(None, None)], "doc_id long, text string"
    ).filter("doc_id is not null")
    exp = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(full, "text", "doc_id", **kw).collect()
    }
    assert got == exp, batches
