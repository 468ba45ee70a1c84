"""Empty-INPUT contracts (r14 lens — the sibling of the empty-STORE
sweep in test_store_lifecycle_edges.py).

At 100 TB an upstream filter stage legitimately selecting zero rows is
routine; the probe ran ALL 187 registry queries against 0-row copies of
every table (schemas preserved): 184/187 complete cleanly with empty or
zero-stat results. The 3 exceptions are the store-lifecycle audit rows
(s_ivf_store_append, s_ivf_adc_store, st_compact_ingest) whose work-dir
orchestration inherently needs data: 0-row ingest batches are pinned
no-ops, so no store exists to audit — vacuous BY DESIGN, not fixed.

The one ENGINE-level gap found: _write_cell_store on a zero-row build
left a fileless directory and crashed later with a raw
UNABLE_TO_INFER_SCHEMA from the stamp read-back. Pinned here: the build
now fails loudly with the cause (empty corpus / empty centers / no id
overlap) for BOTH the IVF-flat and PQ store builders.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)
CENTER_SCHEMA = T.StructType(
    [
        T.StructField("label", T.IntegerType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),
    ]
)


def _empty_vecs(spark):
    return spark.createDataFrame([], VEC_SCHEMA)


def _centers(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], CENTER_SCHEMA
    )


class TestEmptyBuildIsLoud:
    def test_ivf_store_build_from_empty_corpus(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.similarity import (
            build_ivf_store,
        )

        with pytest.raises(ValueError, match="zero rows"):
            build_ivf_store(
                _empty_vecs(spark), _centers(spark), str(tmp_path / "ivf")
            )

    def test_ivf_store_build_with_empty_centers(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.similarity import (
            build_ivf_store,
        )

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])], VEC_SCHEMA
        )
        empty_centers = spark.createDataFrame([], CENTER_SCHEMA)
        with pytest.raises(ValueError, match="zero rows"):
            build_ivf_store(corpus, empty_centers, str(tmp_path / "ivf2"))


class TestEmptyInputOps:
    """Representative per-family empty-input behaviors re-pinned as
    fast deterministic tests (the full 187-query sweep is a round
    probe, not a suite fixture)."""

    def test_brute_force_topk_empty_corpus(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            brute_force_topk,
        )

        queries = spark.createDataFrame([(100, [1.0, 0.0])], VEC_SCHEMA)
        out = brute_force_topk(_empty_vecs(spark), queries, k=5)
        assert out.count() == 0

    def test_boilerplate_ratio_fractional_empty_docs(self, spark):
        # ceil(frac * 0 docs) = 0 threshold over an empty counts frame
        # — still zero rows, no division blowup
        from data_engineering_hs_spark.operators.corpus import (
            boilerplate_ratio,
        )

        docs = spark.createDataFrame([], "doc_id long, text string")
        out = boilerplate_ratio(
            docs, "text", "doc_id", min_doc_frac=0.01
        )
        assert out.count() == 0

    def test_window_and_agg_rows_emit_zero_not_crash(
        self, spark, empty_sf_dir
    ):
        from data_engineering_hs_spark.queries import REGISTRY, load_all

        load_all()
        # one representative per §2 family over all-empty tables
        for name in [
            "q1_pricing_summary",      # agg
            "w_topk_per_group",        # window
            "j_asof_last_click",       # as-of join (pandas cogroup)
            "t_curate_training_set",   # multi-stage curation
            "s_cosine_topk",           # similarity
            "d_minhash_lsh_audit",     # dedup
        ]:
            n = REGISTRY[name].fn(spark, empty_sf_dir).count()
            assert n >= 0, name

    @pytest.fixture(scope="session")
    def empty_sf_dir(self, tmp_path_factory):
        """0-row copies of every testdata table, REGENERATED per test
        session under pytest's tmp dir — an existence-keyed /tmp cache
        would go stale the moment a testdata regeneration changed a
        schema, and two parallel workers would race the first write."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = str(tmp_path_factory.mktemp("sf_empty"))
        src = "/root/testdata/sf0.001"
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                s = pq.read_schema(os.path.join(src, f))
                pq.write_table(
                    pa.table(
                        {
                            n: pa.array([], type=s.field(n).type)
                            for n in s.names
                        }
                    ),
                    os.path.join(d, f),
                )
        return d

    @pytest.fixture(autouse=True)
    def _no_table_cache(self):
        from data_engineering_hs_spark.catalog import enable_table_cache

        enable_table_cache(False)
        yield


class TestNoOverlapBuildIsLoudPreWrite:
    """r15, ADVICE: the residual zero-row cause — nonempty corpus AND
    centers, but the assignment join shares no id with the payload —
    used to run the destructive overwrite before the post-write
    read-back ValueError fired, wiping the existing store the error
    told you to append to. The joined-frame probe must fire with the
    store untouched."""

    def test_no_overlap_payload_leaves_store_untouched(
        self, spark, tmp_path
    ):
        import os

        from data_engineering_hs_spark.operators.similarity import (
            _write_cell_store,
            build_ivf_store,
        )

        store = str(tmp_path / "ivf")
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])], VEC_SCHEMA
        )
        build_ivf_store(corpus, _centers(spark), store)
        before = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(store)
            for f in fs
        )
        assert before, "fixture store is empty"
        # payload ids disjoint from the corpus ids: the two existing
        # probes pass (both frames nonempty) but the join is empty
        disjoint_payload = spark.createDataFrame(
            [(99, [1.0, 0.0])], VEC_SCHEMA
        )
        with pytest.raises(ValueError, match="no id"):
            _write_cell_store(
                payload=disjoint_payload,
                corpus=corpus,
                centers=_centers(spark),
                path=store,
                meta={},
            )
        after = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(store)
            for f in fs
        )
        assert after == before, (
            "refused no-overlap build modified the existing store"
        )


class TestAppendSchemaDriftIsLoudPreWrite:
    """r15 schema-drift probe: a dtype-drifted increment (int id into
    a bigint store, array<double> vecs into an array<float> store)
    used to APPEND fine and poison the store — the next read samples
    one file's footer, so queries FAILED_READ_FILE or silently upcast
    depending on listing order, with the bad files already committed.
    The append must refuse loudly with the store untouched."""

    def test_drifted_increment_refused_store_untouched(
        self, spark, tmp_path
    ):
        import os

        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
        )

        store = str(tmp_path / "ivf")
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        centers = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "label long, centroid array<float>",
        )
        build_ivf_store(corpus, centers, store)
        before = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(store)
            for f in fs
        )
        drifted = spark.createDataFrame(
            [(3, [0.5, 0.5])], "vec_id int, embedding array<double>"
        )
        with pytest.raises(ValueError, match="schema drift"):
            append_to_cell_store(drifted, centers, store)
        after = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(store)
            for f in fs
        )
        assert after == before, "refused append modified the store"
        # an increment with the CORRECT dtypes still appends fine
        ok = spark.createDataFrame(
            [(3, [0.5, 0.5])], "vec_id long, embedding array<float>"
        )
        append_to_cell_store(ok, centers, store)
        assert spark.read.parquet(store).count() == 3
