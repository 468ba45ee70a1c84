"""Normalization-version stamp on the persisted fingerprint store
(r14, ADVICE): r13 changed normalized_text/tokens semantics, so
fingerprints persisted BEFORE the change no longer match the ones the
engine now computes — previously-seen docs with tab/newline-edged
text re-fingerprint differently and the store anti-join silently
re-admits them as 'new'. Stores now stamp
functions.text.NORMALIZATION_VERSION in a sidecar beside the data;
reads and commits fail loudly on a mismatch. Unstamped stores (pre-r14 or
remote URIs) pass — indistinguishable from fresh; the pre-r13 rebuild
requirement is the documented contract. The store's writer is
streaming_dedup_ingest's per-batch commit (_dedup_ingest_batch)."""

from __future__ import annotations

import json
import os

import pytest

from data_engineering_hs_spark.functions.text import NORMALIZATION_VERSION
from data_engineering_hs_spark.operators.dedup import read_fingerprint_store


def _survivors(spark, *fps):
    return spark.createDataFrame(
        [(f,) for f in fps], "fingerprint long"
    )


def _ingest(spark, store, batch_id, rows):
    from data_engineering_hs_spark.streaming.pipelines import (
        _dedup_ingest_batch,
    )

    _dedup_ingest_batch(
        spark.createDataFrame(rows, "doc_id long, text string"), batch_id,
        store, store + "_sink", "text", "doc_id",
    )


class TestPathStoreStamp:
    def test_append_stamps_and_matching_read_passes(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        _ingest(spark, store, 0, [(1, "a"), (2, "b")])
        meta = json.load(open(os.path.join(store, "_norm_meta.json")))
        assert meta == {"normalization_version": NORMALIZATION_VERSION}
        assert read_fingerprint_store(spark, store).count() == 2

    def test_mismatched_stamp_fails_read_and_commit(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.dedup import (
            stamp_normalization_version,
        )
        from data_engineering_hs_spark.sources.parquet import (
            snapshot_data_files,
        )

        store = str(tmp_path / "fp")
        _ingest(spark, store, 0, [(1, "a")])
        # simulate a store persisted under the pre-r13 normalization
        with open(os.path.join(store, "_norm_meta.json"), "w") as fh:
            json.dump({"normalization_version": 1}, fh)
        before = snapshot_data_files(store), snapshot_data_files(store + "_sink")
        with pytest.raises(RuntimeError, match="normalization_version"):
            read_fingerprint_store(spark, store)
        with pytest.raises(RuntimeError, match="normalization_version"):
            stamp_normalization_version(store)
        with pytest.raises(RuntimeError, match="normalization_version"):
            _ingest(spark, store, 1, [(2, "b")])
        # the refused commit must not have written anything
        assert (
            snapshot_data_files(store), snapshot_data_files(store + "_sink")
        ) == before, "commit into a mismatched store leaked data"

    def test_unstamped_legacy_store_still_reads(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        _survivors(spark, 7).write.parquet(store)  # no stamp
        assert read_fingerprint_store(spark, store).count() == 1


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


class TestAppendSchemaDiscipline:
    """r15 schema-drift probe: a plain parquet directory read samples
    ONE file's footer to infer the schema, so a mixed-schema store
    reads correctly, null-fills, or type-errors depending on listing
    order — roulette. append_to_cell_store validates the increment's
    dtypes against the store's loudly; nullability flags, which do not
    change the footer layout, must not take part."""

    def test_nested_nullability_does_not_false_positive(
        self, spark, tmp_path
    ):
        """r16 ADVICE close: a drift check comparing raw (name,
        dataType) pairs lets the nested containsNull flag participate
        for Array/Map columns — a COMPUTED array column
        (containsNull=false) false-positives against the all-nullable
        parquet-read schema, the class d61c2ab fixed for top-level
        flags. The check erases nullability recursively via the
        shared similarity.erase_nullability."""
        from pyspark.sql import functions as F

        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
        )

        centers = spark.createDataFrame(
            [(0, [0.0, 1.0]), (1, [8.0, 1.0])],
            "label int, centroid array<double>",
        )
        store = str(tmp_path / "ivf")
        build_ivf_store(
            spark.createDataFrame(
                [(i, [float(i), 1.0]) for i in range(4)],
                "vec_id long, embedding array<double>",
            ),
            centers,
            store,
        )
        for lo in (100, 200):
            # spark.range → non-nullable id; computed array →
            # containsNull=false; both must append cleanly, twice
            computed = spark.range(lo, lo + 2).select(
                F.col("id").alias("vec_id"),
                F.array(F.col("id").cast("double"), F.lit(1.0)).alias(
                    "embedding"
                ),
            )
            assert not computed.schema["vec_id"].nullable
            assert not computed.schema["embedding"].dataType.containsNull
            append_to_cell_store(computed, centers, store)
        assert spark.read.parquet(store).count() == 8
