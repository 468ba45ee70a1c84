"""Normalization-version stamp on persisted fingerprint/band stores
(r14, ADVICE): r13 changed normalized_text/tokens semantics, so
fingerprints persisted BEFORE the change no longer match the ones the
engine now computes — previously-seen docs with tab/newline-edged
text re-fingerprint differently and the store anti-join silently
re-admits them as 'new'. Stores now stamp
functions.text.NORMALIZATION_VERSION in a sidecar beside the data;
reads and commits fail loudly on a mismatch. Unstamped stores (pre-r14 or
remote URIs) pass — indistinguishable from fresh; the pre-r13 rebuild
requirement is the documented contract."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_hs_spark.functions.text import NORMALIZATION_VERSION
from data_engineering_hs_spark.operators.dedup import (
    append_fingerprints,
    append_lsh_bands,
    read_fingerprint_store,
    read_lsh_store,
)


def _survivors(spark, *fps):
    return spark.createDataFrame(
        [(f,) for f in fps], "fingerprint long"
    )


class TestPathStoreStamp:
    def test_append_stamps_and_matching_read_passes(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        append_fingerprints(_survivors(spark, 1, 2), store)
        meta = json.load(open(os.path.join(store, "_norm_meta.json")))
        assert meta == {"normalization_version": NORMALIZATION_VERSION}
        assert read_fingerprint_store(spark, store).count() == 2

    def test_mismatched_stamp_fails_read_and_commit(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        append_fingerprints(_survivors(spark, 1), store)
        # simulate a store persisted under the pre-r13 normalization
        with open(os.path.join(store, "_norm_meta.json"), "w") as fh:
            json.dump({"normalization_version": 1}, fh)
        with pytest.raises(RuntimeError, match="normalization_version"):
            read_fingerprint_store(spark, store)
        with pytest.raises(RuntimeError, match="normalization_version"):
            append_fingerprints(_survivors(spark, 2), store)
        # the refused commit must not have written anything
        assert (
            spark.read.parquet(store).count() == 1
        ), "commit into a mismatched store leaked data"

    def test_unstamped_legacy_store_still_reads(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        _survivors(spark, 7).write.parquet(store)  # no stamp
        assert read_fingerprint_store(spark, store).count() == 1

    def test_lsh_store_same_contract(self, spark, tmp_path):
        store = str(tmp_path / "bands")
        bands = spark.createDataFrame(
            [(1, 0, 123)], "id long, band int, bucket long"
        )
        append_lsh_bands(bands, store)
        with open(os.path.join(store, "_norm_meta.json"), "w") as fh:
            json.dump({"normalization_version": 1}, fh)
        with pytest.raises(RuntimeError, match="normalization_version"):
            read_lsh_store(spark, store)


class TestStreamingIngestStoreStamp:
    def test_ingest_stamps_and_compaction_preserves(self, spark, tmp_path):
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
            compact_ingest_store,
        )

        schema = T2.StructType(
            [
                T2.StructField("doc_id", T2.LongType()),
                T2.StructField("text", T2.StringType()),
            ]
        )
        store = str(tmp_path / "fp")
        sink = str(tmp_path / "corpus")
        mk = lambda rows: spark.createDataFrame(rows, schema)
        _dedup_ingest_batch(mk([(1, "alpha")]), 0, store, sink, "text", "doc_id")
        _dedup_ingest_batch(mk([(2, "beta")]), 1, store, sink, "text", "doc_id")
        meta_path = os.path.join(store, "_norm_meta.json")
        assert json.load(open(meta_path)) == {
            "normalization_version": NORMALIZATION_VERSION
        }
        compact_ingest_store(spark, store)
        # the rewrite-and-swap must carry the sidecar, not drop it
        assert json.load(open(meta_path)) == {
            "normalization_version": NORMALIZATION_VERSION
        }
        # a replayed batch against a mismatched store aborts
        with open(meta_path, "w") as fh:
            json.dump({"normalization_version": 1}, fh)
        with pytest.raises(RuntimeError, match="normalization_version"):
            _dedup_ingest_batch(
                mk([(3, "gamma")]), 2, store, sink, "text", "doc_id"
            )


def _fp_store(spark, store):
    append_fingerprints(_survivors(spark, 1, 2), store)
    append_fingerprints(_survivors(spark, 3), store)


def _ingest_store(spark, store):
    from data_engineering_hs_spark.streaming.pipelines import (
        _dedup_ingest_batch,
    )

    for i, rows in enumerate(([(1, "a"), (2, "b")], [(3, "c")])):
        _dedup_ingest_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), i,
            store, store + "_sink", "text", "doc_id",
        )


def _compact_parquet(spark, store):
    from data_engineering_hs_spark.sources.parquet import compact_parquet

    return compact_parquet(spark, store)


def _optimize_zorder(spark, store):
    from data_engineering_hs_spark.operators.scale import optimize_table

    return optimize_table(spark, store, zorder_cols=["fingerprint"])


def _compact_ingest(spark, store):
    from data_engineering_hs_spark.streaming.pipelines import (
        compact_ingest_store,
    )

    return compact_ingest_store(spark, store)


class TestCompactParquetSidecarCarry:
    @pytest.mark.parametrize(
        "build, rewrite",
        [
            pytest.param(_fp_store, _compact_parquet, id="compact_parquet"),
            pytest.param(_fp_store, _optimize_zorder, id="optimize_table_zorder"),
            pytest.param(_ingest_store, _compact_ingest, id="compact_ingest_store"),
        ],
    )
    def test_compact_parquet_carries_norm_stamp(
        self, spark, tmp_path, build, rewrite
    ):
        """Every rename-aside rewrite must carry `_*.json` sidecars
        (r15, ADVICE): before the fix one compaction silently dropped
        _norm_meta.json and the mismatch protection vanished — the
        z-order rewrite kept dropping it after compact_parquet was
        fixed."""
        store = str(tmp_path / "fp")
        build(spark, store)
        meta_path = os.path.join(store, "_norm_meta.json")
        assert os.path.exists(meta_path)
        stats = rewrite(spark, store)
        assert stats["files_before"] >= 2
        assert json.load(open(meta_path)) == {
            "normalization_version": NORMALIZATION_VERSION
        }, "the rewrite dropped the normalization sidecar"
        assert read_fingerprint_store(spark, store).count() == 3


class TestAppendSchemaDiscipline:
    """r15 schema-drift probe: a plain parquet directory read samples
    ONE file's footer to infer the schema, so a mixed-schema store
    (int32 beside int64 files, renamed columns) reads correctly,
    null-fills, or type-errors depending on listing order — roulette.
    The append boundary now normalizes contract-fixed dtypes and
    validates caller-typed columns loudly."""

    def test_int_fingerprints_cast_to_long_at_append(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        append_fingerprints(_survivors(spark, 1, 2), store)
        drifted = spark.createDataFrame([(3,), (4,)], "fingerprint int")
        append_fingerprints(drifted, store)
        import pyarrow.parquet as pq
        import os

        # every committed file must be int64 — no mixed footers
        for f in os.listdir(store):
            if f.endswith(".parquet"):
                t = pq.read_schema(os.path.join(store, f)).field(
                    "fingerprint"
                ).type
                assert str(t) == "int64", (f, t)
        out = read_fingerprint_store(spark, store)
        assert sorted(r[0] for r in out.collect()) == [1, 2, 3, 4]

    def test_band_append_refuses_drifted_id_schema(self, spark, tmp_path):
        store = str(tmp_path / "bands")
        bands = spark.createDataFrame(
            [(1, 0, 123)], "id long, band int, bucket long"
        )
        append_lsh_bands(bands, store)
        # renamed id column → loud, nothing appended
        renamed = spark.createDataFrame(
            [(2, 1, 456)], "doc long, band int, bucket long"
        )
        with pytest.raises(ValueError, match="schema drift"):
            append_lsh_bands(renamed, store)
        assert spark.read.parquet(store).count() == 1
        # band/bucket dtypes are contract-fixed: a long band / int
        # bucket increment normalizes instead of poisoning the store
        loose = spark.createDataFrame(
            [(3, 1, 456)], "id long, band long, bucket int"
        )
        append_lsh_bands(loose, store)
        out = spark.read.parquet(store)
        assert out.schema.simpleString() == (
            "struct<id:bigint,band:int,bucket:bigint>"
        )
        assert out.count() == 2

    def test_real_pipeline_bands_append_twice(self, spark, tmp_path):
        """Regression (r15 closing-suite find): the drift check first
        compared full StructTypes — a parquet-read schema is
        all-nullable while lsh_band_buckets' posexplode emits a
        non-nullable band, so the SECOND real-pipeline append was
        falsely refused. Nullability must not participate."""
        from data_engineering_hs_spark.operators.dedup import (
            incremental_minhash_lsh,
            read_lsh_store,
        )

        store = str(tmp_path / "bands")
        b1 = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            ["doc_id", "text"],
        )
        _, bands1 = incremental_minhash_lsh(
            b1, read_lsh_store(spark, store)
        )
        append_lsh_bands(bands1, store)
        b2 = spark.createDataFrame(
            [(2, "iota kappa lambda mu nu xi omicron pi rho sigma")],
            ["doc_id", "text"],
        )
        _, bands2 = incremental_minhash_lsh(
            b2, read_lsh_store(spark, store)
        )
        append_lsh_bands(bands2, store)  # must NOT be refused
        assert read_lsh_store(spark, store).select(
            "doc_id"
        ).distinct().count() == 2

    def test_nested_nullability_does_not_false_positive(
        self, spark, tmp_path
    ):
        """r16 ADVICE close: the band drift check compared raw
        (name, dataType) pairs, so for Array/Map columns the nested
        containsNull flag still participated — a COMPUTED array
        column (containsNull=false) false-positived against the
        all-nullable parquet-read schema, the exact class d61c2ab
        fixed for top-level flags. The check now erases nullability
        recursively via the shared similarity.erase_nullability."""
        from pyspark.sql import functions as F

        store = str(tmp_path / "bands_arr")
        seeded = spark.createDataFrame(
            [(1, 0, 123, [1, 2])],
            "id long, band int, bucket long, tags array<bigint>",
        )
        append_lsh_bands(seeded, store)
        # computed array → containsNull=false; must append cleanly
        computed = spark.createDataFrame(
            [(2, 1, 456)], "id long, band int, bucket long"
        ).withColumn(
            "tags",
            F.array(F.lit(3).cast("long"), F.lit(4).cast("long")),
        )
        assert not computed.schema["tags"].dataType.containsNull
        append_lsh_bands(computed, store)
        assert spark.read.parquet(store).count() == 2
