"""Fuzz-parity lens, batch 8a (r16 verdict item 6): count-min sketch
vs its auditable mathematical contract and a pure-Python truth mirror.

operators/sketch.py had pinned tests but no hypothesis third opinion —
the lens class that found real bugs in r11–r15. What is fuzzed here
is the CONTRACT, not the hash (xxhash64 has no cheap Python mirror):

- estimate >= true count for EVERY key ever inserted (collisions only
  add — the one-sided error guarantee the sketch is for);
- size bound: a sketch never exceeds depth·width rows whatever the
  input size;
- degenerate geometry (depth=1, width=1): every key hashes to the one
  cell, so every seen key's estimate is EXACTLY the total row count —
  the collision-overcount formula with all mass in one cell;
- NULL keys are keys: xxhash64 folds a null column deterministically,
  so None inserts count, probe, and obey the >= guarantee like any
  other key (pinned so a future 'filter nulls' refactor is a
  deliberate contract change, not an accident).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_engineering_hs_spark.operators.sketch import (
    cms_build,
    cms_estimate,
)

FUZZ = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small alphabet → heavy duplication (the sketch's workload) and
# deliberately awkward members: empty string, unicode, a string that
# looks like a number, and None
KEYS = st.sampled_from(
    ["a", "b", "c", "", "héllo", "42", "long-tail-key", None]
)
key_lists = st.lists(KEYS, min_size=1, max_size=40)


def _mk(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def _estimates(spark, sketch, keys, depth, width):
    probe = _mk(spark, sorted(set(keys), key=lambda x: (x is None, x)))
    rows = cms_estimate(
        sketch, probe, "k", depth=depth, width=width
    ).collect()
    return {r["k"]: r["est"] for r in rows}


@given(keys=key_lists)
@FUZZ
def test_fuzz_estimate_dominates_true_count(spark, keys):
    depth, width = 4, 64  # narrow width → real collisions under fuzz
    sketch = cms_build(_mk(spark, keys), "k", depth=depth, width=width)
    assert sketch.count() <= depth * width
    true = Counter(keys)
    est = _estimates(spark, sketch, keys, depth, width)
    for k, n in true.items():
        assert est[k] >= n, (k, est[k], n)


@given(keys=key_lists)
@FUZZ
def test_fuzz_degenerate_one_cell_estimates_total(spark, keys):
    # depth=1, width=1: every key lands in the single cell, so every
    # seen key's estimate is exactly len(keys) — the overcount
    # formula at its maximum, still obeying est >= true
    sketch = cms_build(_mk(spark, keys), "k", depth=1, width=1)
    est = _estimates(spark, sketch, keys, 1, 1)
    assert set(est.values()) == {len(keys)}


def test_never_seen_key_estimate_is_nonnegative(spark):
    sketch = cms_build(_mk(spark, ["a", "a", "b"]), "k", 4, 8192)
    rows = cms_estimate(
        sketch, _mk(spark, ["zzz-unseen"]), "k", 4, 8192
    ).collect()
    assert rows[0]["est"] >= 0


def test_null_key_counts_and_probes(spark):
    keys = [None, None, "a", None]
    sketch = cms_build(_mk(spark, keys), "k", 4, 8192)
    est = _estimates(spark, sketch, keys, 4, 8192)
    assert est[None] >= 3
    assert est["a"] >= 1
