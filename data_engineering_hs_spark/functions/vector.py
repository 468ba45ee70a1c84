"""Vector math over array<float|double> embedding columns.

Evaluation strategy — MEASURED, not assumed (sf0.1 embeddings,
1M candidate pairs, local[8], Spark 4.1):

- The F.zip_with / F.aggregate fold (this module's default) runs the
  lambda interpreted, but in ONE pass over the array: 1.6 s / 1M
  64-dim dots.
- Unrolling to a 64-term ``element_at`` product sum LOOKS like it
  should stay in whole-stage codegen (and does — the plan shows
  ``*(1) Project``), but the generated method is so large it blows
  the JVM JIT's huge-method limit and executes as interpreted
  bytecode: 4.6 s / 1M dots — ~3× SLOWER. The unrolled strategy was
  tried and removed; don't resurrect it for wide arrays. (Narrow
  unrolls with literal weights — e.g. the 8-plane LSH bit
  expressions in operators/similarity.py — measure slightly FASTER
  than the fold, so width is the deciding factor.)
- ``dot_pandas`` (Arrow-batched numpy einsum) is the scale path:
  1.1 s / 1M dots and widens with batch size. It is NOT bit-exact —
  numpy sums pairwise/SIMD while the fold adds strictly
  left-to-right — so oracle-checked queries keep the fold and
  callers opt in where 1-ulp drift is acceptable.

The fold adds terms strictly left-to-right, bit-identical to the
unrolled SQL the DuckDB oracles use (queries/llm.py _dot_sql).

Hot paths should also avoid recomputing norms per PAIR: compute
``norm`` once per row before the candidate join and combine with
``cosine_from`` — same floats, ~1/3 the fold work (see
operators/similarity.py).
"""

from __future__ import annotations

# Module-level so pandas_udf can resolve the stringified type hints
# ('pd.Series') that `from __future__ import annotations` produces.
import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.scalar import ColumnOrName, _col


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two equal-length numeric arrays (double fold)."""
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: ColumnOrName) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(
            _col(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity; 0.0 for zero-norm AND non-finite inputs
    (see :func:`cosine_from` for the degenerate-vector contract).

    Per-pair evaluation recomputes both norms every time — inside a
    candidate join prefer precomputing ``norm`` per row and combining
    with :func:`cosine_from`.
    """
    return cosine_from(dot(a, b), norm(a), norm(b))


def cosine_from(d: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from a precomputed dot and per-side norms.

    Bit-identical to :func:`cosine` (same float ops in the same
    order); exists so the norms can be computed once per ROW before a
    candidate join instead of once per PAIR after it.

    DEGENERATE-VECTOR CONTRACT (r14 lens find): a non-finite
    similarity — NaN from a corrupt component (failed encode, bad
    Arrow decode), or Inf/NaN from magnitude overflow — scores 0.0,
    the same neutral affinity as a zero vector. Without the guard a
    SINGLE NaN-component vector in the corpus ranked as the #1
    neighbor of EVERY query (Spark and DuckDB both order NaN above
    every real double, so desc ranking put it first) and was MMR's
    first pick with NaN relevance — one corrupt embedding poisoned
    every top-k corpus-wide. At 0.0 a corrupt vector can never
    outrank any positively-correlated neighbor; finite similarities
    are bit-identical to the unguarded form (the oracles' CASE WHEN
    nn=0 restatements hold unchanged on finite data).

    SINGLE-EVALUATION SHAPE (r15 perf fix): the naive
    ``WHEN isnan(raw) OR abs(raw)=inf THEN 0 ELSE raw`` references
    ``raw`` — and therefore ``d``, typically the whole 64-element dot
    FOLD — three times. Higher-order-function expressions are
    CodegenFallback and Spark's subexpression elimination does not
    hoist branch-local subtrees, so the fold re-evaluated per
    reference: an interleaved A/B at sf0.1 measured the naive guard
    at +41 % on s_cosine_topk (0.554 s vs 0.393 s unguarded; the r14
    driver's +30.8 % read was REAL, not noise). Binding ``raw`` as a
    1-element ``aggregate`` lambda variable evaluates it exactly once
    and the guard then touches only the bound double — same values,
    fold evaluated once."""
    nn = norm_a * norm_b
    raw = d / nn
    guarded = F.aggregate(
        F.array(raw),
        F.lit(0.0),
        lambda _, v: F.when(
            F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), F.lit(0.0)
        ).otherwise(v),
    )
    return F.when(nn == 0, F.lit(0.0)).otherwise(guarded)


def dot_pandas(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Arrow-batched vectorized dot product (numpy einsum).

    The 100-TB scale path: ~1.5× the fold's throughput at 1M pairs
    and the gap widens with batch size. NOT bit-exact vs the fold —
    numpy's pairwise/SIMD summation rounds differently (≤ a few ulp
    for unit vectors) — so oracle-checked queries use :func:`dot`;
    use this where approximate equality is fine (ANN candidate
    scoring, near-dup verify at loose thresholds).
    """
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _pdot(x: pd.Series, y: pd.Series) -> pd.Series:
        xa, ya, bad = _pair_arrays(x, y)
        out = np.einsum("ij,ij->i", xa, ya)
        # FloatingArray(values, mask), NOT astype("Float64"): only the
        # masked (null/ragged) rows become real NULLs. astype converts
        # every COMPUTED NaN to NA too, so a NaN-component vector
        # dotted through the arrow strategy returned NULL where the
        # fold returns NaN — the two strategies then disagreed on
        # corrupt vectors (NULL escapes cosine_from's NaN→0.0
        # degenerate-vector guard and sorts last instead of scoring
        # 0.0; r14 lens find).
        arr = pd.arrays.FloatingArray(
            np.asarray(out, dtype=np.float64), bad.copy()
        )
        return pd.Series(arr)

    return _pdot(_col(a), _col(b))


def _pair_arrays(x: "pd.Series", y: "pd.Series"):
    """(xa, ya, bad): dense 2-D float arrays plus a mask of rows whose
    vectors are NULL or length-mismatched WITHIN the pair. The
    fold-based `dot` returns NULL for such rows; without the mask a
    single dirty row turned the einsum into an object-array crash
    that killed the whole job — a success/failure divergence between
    the two strategies, not the documented few-ulp one.

    A pair whose vectors match each other but are SHORTER than the
    batch's max dim is a valid row (the fold computes it), so it is
    zero-padded to the dense width — padding zeros change neither the
    dot product nor the norms. Masking such rows instead would make
    the result depend on batch composition/partitioning."""
    xs, ys = x.tolist(), y.tolist()
    dims = [len(v) for v in xs if v is not None] + [
        len(v) for v in ys if v is not None
    ]
    dim = max(dims, default=1)
    bad = np.zeros(len(xs), dtype=bool)
    zeros = [0.0] * dim
    for i, (u, v) in enumerate(zip(xs, ys)):
        if u is None or v is None or len(u) != len(v):
            bad[i] = True
            xs[i] = zeros
            ys[i] = zeros
        elif len(u) != dim:
            pad = [0.0] * (dim - len(u))
            xs[i] = list(u) + pad
            ys[i] = list(v) + pad
    return (
        np.array(xs, dtype=np.float64),
        np.array(ys, dtype=np.float64),
        bad,
    )


def is_finite_vector(a: ColumnOrName) -> Column:
    """True iff the array is non-null and every component is finite —
    the corpus-hygiene pre-filter for embedding pipelines. The
    similarity operators TOLERATE corrupt vectors (non-finite
    similarity scores 0.0, see :func:`cosine_from`), but at corpus
    scale the cheaper posture is dropping them at ingest:
    ``df.filter(is_finite_vector("embedding"))`` — one codegen'd
    array scan, no shuffle."""
    v = _col(a)
    return v.isNotNull() & ~F.exists(
        v,
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
