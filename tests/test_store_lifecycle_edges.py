"""Empty/degenerate-cardinality contracts for the store lifecycles
(r14 verdict item): compact/append on empty or missing stores, 0-row
micro-batches, k > corpus size, empty increments. Each contract is
pinned as either a clean no-op (zero stats, store untouched) or a loud, SPECIFIC error — never a raw
UNABLE_TO_INFER_SCHEMA/PATH_NOT_FOUND from deep inside a parquet
scan (what the empty-existing-dir cases threw before this round)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


class TestIngestStoreEdges:
    def _batch(self, spark, rows):
        from pyspark.sql import types as T2

        schema = T2.StructType(
            [
                T2.StructField("doc_id", T2.LongType()),
                T2.StructField("text", T2.StringType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def test_zero_row_batches_roundtrip(self, spark, tmp_path):
        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
            compact_ingest_store,
        )

        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        # 0-row first batch, rows, 0-row again — the empty-source
        # stream shape (a trigger with nothing to read)
        _dedup_ingest_batch(self._batch(spark, []), 0, store, sink, "text", "doc_id")
        _dedup_ingest_batch(
            self._batch(spark, [(1, "a")]), 1, store, sink, "text", "doc_id"
        )
        _dedup_ingest_batch(self._batch(spark, []), 2, store, sink, "text", "doc_id")
        assert spark.read.parquet(store).count() == 1
        assert spark.read.parquet(sink).count() == 1
        st = compact_ingest_store(spark, store)
        assert st["files_after"] >= 1
        assert spark.read.parquet(store).count() == 1

    def test_compact_empty_existing_store_is_noop(self, spark, tmp_path):
        from data_engineering_hs_spark.streaming.pipelines import (
            compact_ingest_store,
        )

        zero = {
            "files_before": 0,
            "files_after": 0,
            "partitions_before": 0,
            "partitions_after": 0,
        }
        d = str(tmp_path / "fp")
        os.makedirs(d)
        assert compact_ingest_store(spark, d) == zero
        # a missing path is the same no-op
        assert compact_ingest_store(spark, str(tmp_path / "nope")) == zero

    def test_all_digit_run_namespace_survives_compaction(
        self, spark, tmp_path
    ):
        # A hex run namespace is all digits about 1 time in 100; when
        # every run of a store is, partition discovery typed `run` as
        # a number and compaction died casting 'compacted'. Pick a
        # checkpoint whose namespace is all digits AND starts with 0,
        # so a cast-after-read fix (which drops the zero and rewrites
        # the run under a different directory) fails here too.
        from data_engineering_hs_spark.streaming.pipelines import (
            _run_namespace,
            compact_ingest_store,
            streaming_dedup_ingest,
        )

        for i in range(200_000):
            ckpt = str(tmp_path / f"ckpt{i}")
            ns = _run_namespace(ckpt)
            if ns.isdigit() and ns.startswith("0"):
                break
        else:
            pytest.fail("no all-digit run namespace in 200k candidates")
        src = str(tmp_path / "src")
        for rows in ([(1, "a b"), (2, "c d")], [(3, "a b"), (4, "e f")],
                     [(5, "g h")]):
            self._batch(spark, rows).coalesce(1).write.mode("append").parquet(src)
        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        q = streaming_dedup_ingest(
            spark.readStream.schema(self._batch(spark, []).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            store, sink, ckpt,
        )
        assert q.awaitTermination(300), "stream drain timed out"
        def runs(d):
            return sorted(e for e in os.listdir(d) if e.startswith("run="))

        assert runs(store) == runs(sink) == [f"run={ns}"]
        for d in (store, sink):
            st = compact_ingest_store(spark, d)
            assert st["partitions_before"] == 3 and st["partitions_after"] == 2
            assert runs(d) == sorted(["run=compacted", f"run={ns}"])
        assert spark.read.parquet(store).count() == 4
        texts = [r.text for r in spark.read.parquet(sink).collect()]
        assert sorted(texts) == ["a b", "c d", "e f", "g h"]


class TestCellStoreEdges:
    @pytest.fixture()
    def store(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.similarity import (
            build_ivf_store,
            centroids,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).localCheckpoint(eager=True)
        cents = centroids(emb).localCheckpoint(eager=True)
        path = str(tmp_path / "cells")
        build_ivf_store(emb, cents, path)
        return emb, cents, path

    def test_empty_increment_append_is_noop(self, spark, store):
        from data_engineering_hs_spark.operators.similarity import (
            _verify_store_corpus,
            append_to_cell_store,
        )

        emb, cents, path = store
        meta_before = json.load(open(os.path.join(path, "_store_meta.json")))
        append_to_cell_store(emb.filter("vec_id < 0"), cents, path)
        meta_after = json.load(open(os.path.join(path, "_store_meta.json")))
        # XOR-fold of zero rows: stamp bit-identical, store still
        # verifies against the original corpus
        assert meta_before == meta_after
        _verify_store_corpus(emb, path)

    def test_store_query_with_empty_caller_corpus_is_loud(
        self, spark, store, tmp_path
    ):
        from data_engineering_hs_spark.operators.similarity import (
            build_pq_code_store,
            ivf_adc_topk,
            pq_train,
        )

        emb, cents, _ = store
        cb = pq_train(emb, iters=1)
        path = str(tmp_path / "codes")
        build_pq_code_store(emb, cents, cb, path)
        with pytest.raises(ValueError, match="different corpus"):
            ivf_adc_topk(
                emb.filter("vec_id < 0"),
                emb.limit(2),
                cents,
                cb,
                k=3,
                code_store=path,
            )

    def test_topk_with_k_beyond_corpus(self, spark):
        from data_engineering_hs_spark.operators.similarity import (
            brute_force_topk,
            centroids,
            ivf_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(3)
        q = emb.limit(1)
        # k > corpus: every other vector ranks, nothing pads
        assert brute_force_topk(emb, q, k=100).count() == 2
        # at most 2 cells, so nprobe=2 probes every one
        cents = centroids(emb.selectExpr("vec_id % 2 AS label", "embedding"))
        assert ivf_topk(emb, q, cents, k=100, nprobe=2).count() == 2


class TestUpsertSinkEdges:
    def test_zero_row_batch_is_noop(self, spark, tmp_path):
        from data_engineering_hs_spark.sources.upsert import upsert_parquet

        tgt = str(tmp_path / "tgt")
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ).write.parquet(tgt)
        zero = spark.range(0).select(
            F.col("id").alias("k"), F.lit(2).alias("v")
        )
        assert upsert_parquet(spark, tgt, zero, keys=["k"]) == 0
        after = spark.read.parquet(tgt)
        assert after.count() == 5
        assert after.filter("v != 1").count() == 0  # untouched

    def test_zero_row_batch_into_missing_target(self, spark, tmp_path):
        from data_engineering_hs_spark.sources.upsert import upsert_parquet

        tgt = str(tmp_path / "newt")
        zero = spark.range(0).select(
            F.col("id").alias("k"), F.lit(2).alias("v")
        )
        assert upsert_parquet(spark, tgt, zero, keys=["k"]) == 0
