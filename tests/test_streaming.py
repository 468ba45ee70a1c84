"""Streaming pipeline tests (SURVEY.md §2.9, §2.1 S14-S23) — bounded
sources drained with availableNow; no Kafka/socket needed."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_hs_spark.catalog import KAFKA_EVENT_AVRO_SCHEMA
from data_engineering_hs_spark.sources import avro as A
from data_engineering_hs_spark.streaming.pipelines import (
    dedup_within_watermark,
    file_watch_ingest,
    kafka_shaped_ingest,
    run_to_memory,
    word_count,
)

VALUE_SCHEMA = T.StructType([T.StructField("value", T.BinaryType())])


def _avro_event_files(spark, d: str, batches: list[list[dict]]):
    """Write parquet files each holding binary avro `value` rows — the
    Kafka-topic stand-in for tests."""
    schema = json.loads(KAFKA_EVENT_AVRO_SCHEMA)
    os.makedirs(d, exist_ok=True)
    for i, batch in enumerate(batches):
        rows = [(A.encode_record(e, schema),) for e in batch]
        spark.createDataFrame(rows, VALUE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)


EVENTS_B1 = [
    {"user": "u_aaa111", "event": "click", "amount": 1.5, "ts": 1700000000000},
    {"user": "u_bbb222", "event": "purchase", "amount": 20.0, "ts": 1700000001000},
]
EVENTS_B2 = [
    {"user": "u_aaa111", "event": "view", "amount": 0.0, "ts": 1700000002000},
]


class TestWordCount:
    def test_socket_wordcount_shape(self, spark, tmp_path):
        # T5/S17-S18: text lines → running counts, complete mode.
        d = str(tmp_path / "lines")
        os.makedirs(d)
        with open(os.path.join(d, "a.txt"), "w") as f:
            f.write("spark makes word count easy\nword count\n")
        lines = spark.readStream.format("text").load(d)
        q, table = run_to_memory(word_count(lines), "wc_test", "complete")
        got = {r["word"]: r["n"] for r in table.collect()}
        assert got["word"] == 2 and got["count"] == 2 and got["spark"] == 1
        q.stop()


class TestKafkaShapedIngest:
    def test_decode_flatten_sink_checkpoint(self, spark, tmp_path):
        # S14-S19 + T3/T6/T7: binary value stream → avro decode →
        # foreachBatch parquet partitioned by batch_id, checkpointed.
        src = str(tmp_path / "topic")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        _avro_event_files(spark, src, [EVENTS_B1, EVENTS_B2])

        def decode(df):
            return A.decode_avro_column(df, "value", KAFKA_EVENT_AVRO_SCHEMA)

        stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
        q = kafka_shaped_ingest(stream, decode, sink, ckpt)
        q.awaitTermination()
        out = spark.read.parquet(sink)
        assert out.count() == 3
        assert {"user", "event", "amount", "ts", "batch_id", "ingest_ts"} <= set(
            out.columns
        )
        users = {r["user"] for r in out.collect()}
        assert users == {"u_aaa111", "u_bbb222"}

        # T8: restart with same checkpoint + no new data → no dup rows.
        stream2 = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
        q2 = kafka_shaped_ingest(stream2, decode, sink, ckpt)
        q2.awaitTermination()
        assert spark.read.parquet(sink).count() == 3

        # T8 harder: simulate a mid-write failure replay — re-running
        # the SAME batch id (fresh checkpoint, same data) overwrites
        # its partition instead of appending duplicates.
        ckpt2 = str(tmp_path / "ckpt_replay")
        stream3 = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
        q3 = kafka_shaped_ingest(stream3, decode, sink, ckpt2)
        q3.awaitTermination()
        assert spark.read.parquet(sink).count() == 3

    def test_wiped_checkpoint_refused_end_to_end(self, spark, tmp_path):
        # a MULTI-batch run followed by a fresh checkpoint against the
        # retained sink: replayed batch 0 would overwrite the old
        # batch_id=0 partition and leave batch 1 behind as duplicates
        # — the guard must surface through the stream, not just the
        # helper
        import pytest
        from pyspark.errors import StreamingQueryException

        src = str(tmp_path / "topic2")
        sink = str(tmp_path / "sink2")
        ckpt = str(tmp_path / "ckpt2")
        _avro_event_files(spark, src, [EVENTS_B1, EVENTS_B2])

        def decode(df):
            return A.decode_avro_column(df, "value", KAFKA_EVENT_AVRO_SCHEMA)

        def one_file_stream():
            return (
                spark.readStream.schema(VALUE_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        q = kafka_shaped_ingest(one_file_stream(), decode, sink, ckpt)
        q.awaitTermination()
        batches = {
            r["batch_id"]
            for r in spark.read.parquet(sink).select("batch_id").distinct().collect()
        }
        assert batches == {0, 1}
        ckpt_wiped = str(tmp_path / "ckpt2_wiped")
        q2 = kafka_shaped_ingest(one_file_stream(), decode, sink, ckpt_wiped)
        with pytest.raises(StreamingQueryException, match="checkpoint was reset"):
            q2.awaitTermination()
        # nothing was deleted: both original batches intact
        assert spark.read.parquet(sink).count() == 3


FUEL_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("fuel_units", T.DoubleType()),
    ]
)


class TestFileWatchIngest:
    def test_incremental_upsert_with_quarantine(self, spark, tmp_path):
        # S20-S23: file-watch source, valid/invalid split, keyed upsert.
        src = str(tmp_path / "drops")
        target = str(tmp_path / "table")
        quarantine = str(tmp_path / "bad")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        # t0 has a NULL fuel_units: the predicate evaluates to NULL,
        # which must route to quarantine, not vanish (every input row
        # lands in exactly one sink).
        spark.createDataFrame(
            [("t1", 10.0), ("t2", -5.0), ("t1", 10.0), ("t0", None)], FUEL_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

        stream = spark.readStream.schema(FUEL_SCHEMA).parquet(src)
        q = file_watch_ingest(
            stream,
            target,
            ckpt,
            keys=("transaction_id",),
            quarantine_dir=quarantine,
            valid_predicate=F.col("fuel_units") >= 0,
        )
        q.awaitTermination()
        good = spark.read.parquet(target)
        assert good.count() == 1  # t1 deduped, t2 + null-t0 quarantined
        bad = spark.read.parquet(quarantine)
        assert sorted(r["transaction_id"] for r in bad.collect()) == ["t0", "t2"]

        # A later drop re-sends t1 (duplicate) + new t3 → only t3 lands.
        spark.createDataFrame(
            [("t1", 10.0), ("t3", 7.0)], FUEL_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        stream2 = spark.readStream.schema(FUEL_SCHEMA).parquet(src)
        q2 = file_watch_ingest(
            stream2, target, ckpt, keys=("transaction_id",),
            quarantine_dir=quarantine,
            valid_predicate=F.col("fuel_units") >= 0,
        )
        q2.awaitTermination()
        keys = sorted(
            r["transaction_id"] for r in spark.read.parquet(target).collect()
        )
        assert keys == ["t1", "t3"]


class TestWatermarkDedup:
    def test_dedup_within_watermark(self, spark, tmp_path):
        d = str(tmp_path / "ev")
        os.makedirs(d)
        schema = T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        import datetime as dt

        t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
        spark.createDataFrame(
            [("a", t0), ("a", t0), ("b", t0)], schema
        ).coalesce(1).write.mode("append").parquet(d)
        stream = spark.readStream.schema(schema).parquet(d)
        deduped = dedup_within_watermark(stream, keys=("k",), watermark="1 hour")
        q, table = run_to_memory(deduped, "dedup_test", "append")
        assert table.count() == 2
        q.stop()


class TestStreamingDedupIngest:
    def test_cross_batch_dedup_and_replay(self, spark, tmp_path):
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_dedup_ingest,
        )

        schema = T2.StructType(
            [
                T2.StructField("doc_id", T2.LongType()),
                T2.StructField("text", T2.StringType()),
            ]
        )
        src = str(tmp_path / "drops")
        store = str(tmp_path / "fp_store")
        sink = str(tmp_path / "corpus")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)

        # drop 1: one intra-batch dup (3 normalizes to 1's text)
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA   beta")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q = streaming_dedup_ingest(
            spark.readStream.schema(schema).parquet(src), store, sink, ckpt
        )
        assert q.awaitTermination(300), 'stream drain timed out'
        got1 = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert got1 == [1, 2]

        # drop 2: one cross-batch dup (10 == 2's text) + one new doc
        spark.createDataFrame(
            [(10, "gamma delta"), (11, "epsilon zeta")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q2 = streaming_dedup_ingest(
            spark.readStream.schema(schema).parquet(src), store, sink, ckpt
        )
        assert q2.awaitTermination(300), 'stream drain timed out'
        got2 = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert got2 == [1, 2, 11]

        # replay the WHOLE source with a fresh checkpoint (the crashed-
        # checkpoint worst case): batch partitions rewrite, the store
        # already has every fingerprint → corpus gains nothing
        ckpt2 = str(tmp_path / "ckpt2")
        q3 = streaming_dedup_ingest(
            spark.readStream.schema(schema).parquet(src), store, sink, ckpt2
        )
        assert q3.awaitTermination(300), 'stream drain timed out'
        got3 = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert got3 == [1, 2, 11]


    def test_replay_after_torn_fingerprint_commit_loses_nothing(
        self, spark, tmp_path
    ):
        # THE replay hole the batch-partitioned store closes: a crash
        # mid fingerprint job-commit leaves SOME of the batch's prints
        # visible; a replay that read them would shrink the survivor
        # set and the corpus overwrite would DELETE already-ingested
        # rows forever. The store read must exclude the batch's own
        # partition so replays are independent of partial commits.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.operators.dedup import fingerprint64
        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
        )

        schema = T2.StructType(
            [
                T2.StructField("doc_id", T2.LongType()),
                T2.StructField("text", T2.StringType()),
            ]
        )
        store = str(tmp_path / "fp_store_torn")
        sink = str(tmp_path / "corpus_torn")
        batch0 = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], schema
        )
        _dedup_ingest_batch(batch0, 0, store, sink, "text", "doc_id")
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == [1, 2]
        # tear the commit: rewrite THIS RUN's partition 0 with ONLY
        # doc 1's print (as if the job died after moving one task
        # file into place)
        (
            batch0.filter(F.col("doc_id") == 1)
            .select(fingerprint64("text").alias("fingerprint"))
            .withColumn("run", F.lit("main"))
            .withColumn("batch_id", F.lit(0))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run", "batch_id")
            .parquet(store)
        )
        # replay batch 0: must rewrite the corpus partition IDENTICALLY
        # (both docs), not drop doc 1 because its print leaked
        _dedup_ingest_batch(batch0, 0, store, sink, "text", "doc_id")
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == [1, 2]
        # and the store partition is healed to both prints
        healed = spark.read.parquet(store).filter(F.col("batch_id") == 0)
        assert healed.count() == 2

    def test_wiped_checkpoint_same_run_refused_fresh_run_writes_beside(
        self, spark, tmp_path
    ):
        # batch ids restart at 0 after a checkpoint wipe. SAME
        # checkpoint dir (same run namespace): refusing is the only
        # safe move — the dynamic overwrite would replace this run's
        # earlier partitions one by one. FRESH checkpoint dir (new
        # namespace): writes land BESIDE the old run — the supported
        # full-source-replay recovery — and old fingerprints still
        # deduplicate.
        import pytest
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
        )

        schema = T2.StructType(
            [
                T2.StructField("doc_id", T2.LongType()),
                T2.StructField("text", T2.StringType()),
            ]
        )
        store = str(tmp_path / "fp_store_reset")
        sink = str(tmp_path / "corpus_reset")
        b0 = spark.createDataFrame([(1, "alpha beta")], schema)
        b1 = spark.createDataFrame([(2, "gamma delta")], schema)
        _dedup_ingest_batch(b0, 0, store, sink, "text", "doc_id")
        _dedup_ingest_batch(b1, 1, store, sink, "text", "doc_id")
        # a legitimate replay of the LAST batch is fine
        _dedup_ingest_batch(b1, 1, store, sink, "text", "doc_id")
        # a wiped-in-place checkpoint (same namespace, reset to 0) is
        # refused before it can delete this run's earlier partitions
        with pytest.raises(RuntimeError, match="wiped in place"):
            _dedup_ingest_batch(b0, 0, store, sink, "text", "doc_id")
        # a FRESH checkpoint dir = new namespace: the full-source
        # rerun dedups against the old run's prints and deletes nothing
        replay = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
            schema,
        )
        _dedup_ingest_batch(
            replay, 0, store, sink, "text", "doc_id", run_ns="run2"
        )
        got = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert got == [1, 2, 3]
        runs = {
            r["run"]
            for r in spark.read.parquet(store).select("run").distinct().collect()
        }
        assert runs == {"main", "run2"}


    def test_compact_ingest_store_preserves_dedup_protocol(
        self, spark, tmp_path
    ):
        # the run-namespaced store accretes one partition per batch
        # forever; compaction merges everything except each run's MAX
        # batch into run=compacted/batch_id=-1 with content unchanged —
        # and the two invariants that live on the max partition
        # (last-batch replay-independence, wiped-checkpoint refusal)
        # must survive it
        import pytest
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
        store = str(tmp_path / "fp_compact")
        sink = str(tmp_path / "corpus_compact")
        mk = lambda rows: spark.createDataFrame(rows, schema)
        # run "main": four batches with one cross-batch dup each way
        _dedup_ingest_batch(mk([(1, "alpha"), (2, "beta")]), 0, store, sink, "text", "doc_id")
        _dedup_ingest_batch(mk([(3, "alpha"), (4, "gamma")]), 1, store, sink, "text", "doc_id")
        _dedup_ingest_batch(mk([(5, "delta")]), 2, store, sink, "text", "doc_id")
        _dedup_ingest_batch(mk([(6, "beta"), (7, "epsilon")]), 3, store, sink, "text", "doc_id")
        # a second (finished) run
        _dedup_ingest_batch(mk([(8, "zeta")]), 0, store, sink, "text", "doc_id", run_ns="run2")
        pre_fp = sorted(
            r.fingerprint for r in spark.read.parquet(store).collect()
        )
        pre_ids = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        assert pre_ids == [1, 2, 4, 5, 7, 8]

        st = compact_ingest_store(spark, store)
        sk = compact_ingest_store(spark, sink)
        # store had 5 batch partitions (main 0-3 + run2 0); survivors:
        # main's max, run2's max, and the consolidated partition
        assert st["partitions_before"] == 5 and st["partitions_after"] == 3
        assert sk["partitions_after"] == 3
        # content is untouched — same fingerprints, same corpus rows
        assert sorted(
            r.fingerprint for r in spark.read.parquet(store).collect()
        ) == pre_fp
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == pre_ids
        # last-batch replay is still independent of its own commit:
        # batch 3 re-runs byte-identically (6 still dups, 7 survives)
        _dedup_ingest_batch(mk([(6, "beta"), (7, "epsilon")]), 3, store, sink, "text", "doc_id")
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == pre_ids
        # wiped-in-place checkpoint still refused after compaction
        with pytest.raises(RuntimeError, match="wiped in place"):
            _dedup_ingest_batch(mk([(1, "alpha")]), 0, store, sink, "text", "doc_id")
        # cross-run dedup against COMPACTED fingerprints still exact:
        # delta (batch 2, now consolidated) dups; eta is new
        _dedup_ingest_batch(mk([(9, "delta"), (10, "eta")]), 4, store, sink, "text", "doc_id")
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == pre_ids + [10]
        # remote paths refused (swap protocol is POSIX renames)
        with pytest.raises(ValueError, match="driver-local path"):
            compact_ingest_store(spark, "s3a://bucket/store")

    def test_compact_ingest_store_hot_partition_is_one_file(
        self, spark, tmp_path
    ):
        # the consolidated partition collects every earlier batch and
        # is written by one task: one file, same rows, in at most two
        # Spark jobs (schema read + write); the single-file max batch
        # is linked, not rewritten
        import os

        from pyspark.sql import types as T2
        from test_compile_once import _jobs_started

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
        store = str(tmp_path / "fp_hot")
        sink = str(tmp_path / "corpus_hot")
        for b in range(4):
            batch = spark.createDataFrame(
                [(b * 10 + i, f"doc {b} {i}") for i in range(10)], schema
            )
            _dedup_ingest_batch(batch, b, store, sink, "text", "doc_id")
        pre = sorted(r.fingerprint for r in spark.read.parquet(store).collect())
        kept = {
            k: v for k, v in _inodes(store).items()
            if k.startswith("run=main/batch_id=3/")
        }
        assert len(kept) == 1
        st, jobs = _jobs_started(
            spark, lambda: compact_ingest_store(spark, store), "compact-hot"
        )
        assert jobs <= 2
        assert st["partitions_after"] == 2  # max batch + consolidated
        comp_dir = os.path.join(store, "run=compacted", "batch_id=-1")
        files = [f for f in os.listdir(comp_dir) if f.endswith(".parquet")]
        assert len(files) == 1
        assert {
            k: v for k, v in _inodes(store).items() if k.startswith("run=main/")
        } == kept
        post = sorted(r.fingerprint for r in spark.read.parquet(store).collect())
        assert post == pre

    def test_reserved_partition_column_names_rejected(self, spark, tmp_path):
        # a batch already carrying run/batch_id columns would have
        # them silently REPLACED by the layout's partition stamps —
        # the sink would lose the caller's data with no trace
        import pytest

        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
        )

        batch = spark.createDataFrame(
            [(1, "alpha", 7)], "doc_id long, text string, batch_id long"
        )
        with pytest.raises(ValueError, match="reserves column names"):
            _dedup_ingest_batch(
                batch, 0, str(tmp_path / "s"), str(tmp_path / "c"),
                "text", "doc_id",
            )
        # the other stamping sinks fail fast at stream DEFINITION
        from pyspark.sql import functions as F2

        from data_engineering_hs_spark.streaming.pipelines import (
            file_watch_ingest,
            kafka_shaped_ingest,
        )

        src = str(tmp_path / "watch_src")
        os.makedirs(src)
        stream = spark.readStream.schema(
            "k long, batch_id long"
        ).parquet(src)
        with pytest.raises(ValueError, match="reserves the column name"):
            file_watch_ingest(
                stream, str(tmp_path / "t"), str(tmp_path / "ck"),
                keys=("k",), quarantine_dir=str(tmp_path / "q"),
                valid_predicate=F2.col("k") > 0,
            )
        bin_stream = spark.readStream.schema("value binary").parquet(src)
        with pytest.raises(ValueError, match="reserves column names"):
            kafka_shaped_ingest(
                bin_stream,
                lambda df: df.withColumn(
                    "data", F2.struct(F2.lit(1).alias("ingest_ts"))
                ),
                str(tmp_path / "sink"),
                str(tmp_path / "ck2"),
            )

    def test_run_namespace_normalizes_respellings(self, tmp_path):
        # the SAME checkpoint respelled ('ckpt' vs 'ckpt/' vs an
        # equivalent relative path) must keep its namespace — a new
        # namespace on a mere respelling would silently bypass the
        # wiped-in-place guard and re-expose the moved-checkpoint
        # hazard across restarts
        import os

        from data_engineering_hs_spark.streaming.pipelines import (
            _run_namespace,
        )

        ckpt = str(tmp_path / "ckpt")
        base = _run_namespace(ckpt)
        assert _run_namespace(ckpt + "/") == base
        assert _run_namespace(ckpt + "///") == base
        cwd = os.getcwd()
        try:
            os.chdir(tmp_path)
            assert _run_namespace("ckpt") == base
            assert _run_namespace("./ckpt/") == base
        finally:
            os.chdir(cwd)
        # URI checkpoints: slash-strip applies, authority is preserved
        assert _run_namespace("s3a://bkt/ck/") == _run_namespace("s3a://bkt/ck")
        assert _run_namespace("s3a://bkt/ck") != _run_namespace("s3a://bkt2/ck")
        # different checkpoints stay distinct
        assert _run_namespace(str(tmp_path / "other")) != base


def _part_files(store: str) -> dict[str, list[str]]:
    """partition dir (relative) → its data file names, sorted."""
    out = {}
    for root, _dirs, files in os.walk(store):
        data = sorted(
            f for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if data:
            out[os.path.relpath(root, store)] = data
    return out


def _inodes(store: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(store, d, f)).st_ino
        for d, files in _part_files(store).items()
        for f in files
    }


class TestCompactionPlan:
    """compact_ingest_store plans from the directory listing: a
    single-file target is hard-linked into the staged layout (no Spark
    job, same inode), only multi-file targets are rewritten, and an
    already-compact store is not staged at all."""

    SCHEMA = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def _ingest(self, spark, store, sink, batches, run_ns="main"):
        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
        )

        for b in batches:
            rows = [(b * 10 + i, f"doc {b} {i}") for i in range(5)]
            _dedup_ingest_batch(
                spark.createDataFrame(rows, self.SCHEMA).coalesce(1),
                b, store, sink, "text", "doc_id", run_ns=run_ns,
            )

    def _compact(self, spark, path, group):
        from test_compile_once import _jobs_started

        from data_engineering_hs_spark.streaming.pipelines import (
            compact_ingest_store,
        )

        return _jobs_started(
            spark, lambda: compact_ingest_store(spark, path), group
        )

    def test_two_batch_store_and_sink_link_with_no_spark_job(
        self, spark, tmp_path
    ):
        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        self._ingest(spark, store, sink, range(2))
        for d in (store, sink):
            assert _part_files(d).keys() == {
                "run=main/batch_id=0", "run=main/batch_id=1"
            }
            assert all(len(f) == 1 for f in _part_files(d).values())
        pre_fp = sorted(r.fingerprint for r in spark.read.parquet(store).collect())
        pre_ids = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
        for d, group in ((store, "compact-store-2"), (sink, "compact-sink-2")):
            kept = _inodes(d)
            st, jobs = self._compact(spark, d, group)
            assert jobs == 0
            assert st == {
                "files_before": 2, "files_after": 2,
                "partitions_before": 2, "partitions_after": 2,
            }
            after = _inodes(d)
            assert after.keys() == {
                os.path.join("run=compacted/batch_id=-1", f)
                for f in _part_files(d)["run=compacted/batch_id=-1"]
            } | {k for k in kept if k.startswith("run=main/batch_id=1/")}
            # both files moved by link: same inodes, no rewrite
            assert sorted(after.values()) == sorted(kept.values())
        assert sorted(
            r.fingerprint for r in spark.read.parquet(store).collect()
        ) == pre_fp
        assert sorted(
            r.doc_id for r in spark.read.parquet(sink).collect()
        ) == pre_ids

    def test_failed_link_falls_back_to_a_rewrite(
        self, spark, tmp_path, monkeypatch
    ):
        import errno

        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        self._ingest(spark, store, sink, range(2))
        pre = sorted(r.fingerprint for r in spark.read.parquet(store).collect())
        kept = _inodes(store)

        def cross_device(src, dst):
            raise OSError(errno.EXDEV, "Invalid cross-device link")

        monkeypatch.setattr(os, "link", cross_device)
        st, jobs = self._compact(spark, store, "compact-no-link")
        assert jobs > 0
        assert {d: len(f) for d, f in _part_files(store).items()} == {
            "run=compacted/batch_id=-1": 1, "run=main/batch_id=1": 1,
        }
        assert not set(_inodes(store).values()) & set(kept.values())
        assert st["files_after"] == 2
        assert sorted(
            r.fingerprint for r in spark.read.parquet(store).collect()
        ) == pre

    def test_multi_file_max_batch_comes_out_as_one_file(self, spark, tmp_path):
        store = str(tmp_path / "fp")
        df = spark.createDataFrame([(i,) for i in range(8)], "fingerprint long")
        for b, n_files in ((0, 1), (1, 2)):
            df.repartition(n_files).write.parquet(
                os.path.join(store, "run=main", f"batch_id={b}")
            )
        assert len(_part_files(store)["run=main/batch_id=1"]) == 2
        st, _jobs = self._compact(spark, store, "compact-multi-file")
        parts = _part_files(store)
        assert {d: len(f) for d, f in parts.items()} == {
            "run=compacted/batch_id=-1": 1, "run=main/batch_id=1": 1,
        }
        assert st["files_before"] == 3 and st["files_after"] == 2
        got = spark.read.parquet(store).groupBy("run", "batch_id").count()
        assert sorted(tuple(r) for r in got.collect()) == [
            ("compacted", -1, 8), ("main", 1, 8),
        ]

    def test_compact_store_is_not_staged(self, spark, tmp_path):
        from data_engineering_hs_spark.sources import parquet as pq_mod

        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        self._ingest(spark, store, sink, range(3))
        self._compact(spark, store, "compact-first")
        root_ino = os.stat(store).st_ino
        files = _inodes(store)
        staged = []
        pq_mod._pre_swap_test_hook = staged.append
        try:
            st, jobs = self._compact(spark, store, "compact-again")
        finally:
            pq_mod._pre_swap_test_hook = None
        assert staged == [] and jobs == 0
        assert not os.path.exists(store + ".__compact")
        assert os.stat(store).st_ino == root_ino and _inodes(store) == files
        assert st["files_before"] == st["files_after"] == 2

    def test_batch_committed_mid_link_swap_aborts_and_survives(
        self, spark, tmp_path
    ):
        # the all-link plan (no Spark job) still goes through the swap
        # tripwire: a batch committed after the planning listing
        # aborts the compaction, and its rows stay in the store
        import pytest

        from data_engineering_hs_spark.sources import parquet as pq_mod

        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        self._ingest(spark, store, sink, range(2))
        before = _inodes(store)
        pq_mod._pre_swap_test_hook = lambda _p: self._ingest(
            spark, store, sink, [2]
        )
        try:
            with pytest.raises(RuntimeError, match="concurrent writer"):
                self._compact(spark, store, "compact-late-batch")
        finally:
            pq_mod._pre_swap_test_hook = None
        after = _inodes(store)
        assert before.items() <= after.items()
        assert {k.split("/")[1] for k in after} == {
            "batch_id=0", "batch_id=1", "batch_id=2"
        }
        assert spark.read.parquet(store).filter("batch_id = 2").count() == 5
        assert not os.path.exists(store + ".__compact")

    def test_stray_files_refused_before_staging(self, spark, tmp_path):
        import shutil

        import pytest

        from data_engineering_hs_spark.streaming.pipelines import (
            compact_ingest_store,
        )

        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        self._ingest(spark, store, sink, range(2))
        src = os.path.join(store, "run=main", "batch_id=0")
        src = os.path.join(src, _part_files(store)["run=main/batch_id=0"][0])
        before = _inodes(store)
        for stray in ("part-stray.parquet", "batch_id=7/part-legacy.parquet"):
            dst = os.path.join(store, stray)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src, dst)
            with pytest.raises(ValueError, match=f"{dst} is outside"):
                compact_ingest_store(spark, store)
            assert not os.path.exists(store + ".__compact")
            os.remove(dst)
        assert _inodes(store) == before


class TestStreamingGuards:
    def test_batch_regression_guard(self, spark, tmp_path):
        # the batch_id-overwrite sinks (kafka_shaped_ingest,
        # file_watch_ingest quarantine, streaming_dedup_ingest's store
        # and sink) refuse a stream restarting below the sink's
        # committed partitions — the wiped-checkpoint state that would
        # delete old batches' rows one by one
        import os

        import pytest

        from data_engineering_hs_spark.streaming.pipelines import (
            _refuse_batch_regression,
        )

        sink = str(tmp_path / "sink")
        # absent sink: fine at any batch
        _refuse_batch_regression(spark, sink, 0, "t")
        os.makedirs(os.path.join(sink, "batch_id=0"))
        os.makedirs(os.path.join(sink, "batch_id=1"))
        # replay of the LAST batch and progress are fine
        _refuse_batch_regression(spark, sink, 1, "t")
        _refuse_batch_regression(spark, sink, 2, "t")
        # regression below the committed max is refused
        with pytest.raises(RuntimeError, match="checkpoint was reset"):
            _refuse_batch_regression(spark, sink, 0, "t")
        # a run-namespaced sink is guarded per run: a fresh run starts
        # at 0 beside a retained one, a wiped run restarting at 0 is
        # refused with the one message both layouts share
        ns = str(tmp_path / "ns_sink")
        os.makedirs(os.path.join(ns, "run=a", "batch_id=5"))
        _refuse_batch_regression(spark, os.path.join(ns, "run=b"), 0, "t")
        with pytest.raises(RuntimeError, match="checkpoint was reset") as e:
            _refuse_batch_regression(spark, os.path.join(ns, "run=a"), 0, "t")
        assert "wiped in place" in str(e.value)

    def test_file_watch_predicate_requires_quarantine(self, spark, tmp_path):
        import pytest
        from pyspark.sql import functions as F
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            file_watch_ingest,
        )

        schema = T2.StructType([T2.StructField("k", T2.IntegerType())])
        (tmp_path / "src").mkdir()
        stream = spark.readStream.schema(schema).parquet(
            str(tmp_path / "src")
        )
        with pytest.raises(ValueError, match="quarantine_dir"):
            file_watch_ingest(
                stream,
                str(tmp_path / "t"),
                str(tmp_path / "c"),
                keys=("k",),
                valid_predicate=F.col("k") > 0,
            )

    def test_cdc_apply_rejects_remote_table_path(self, spark, tmp_path):
        import pytest
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        schema = T2.StructType([T2.StructField("k", T2.IntegerType())])
        (tmp_path / "src").mkdir()
        stream = spark.readStream.schema(schema).parquet(
            str(tmp_path / "src")
        )
        for bad in ("s3a://bucket/table", "file:///tmp/x"):
            with pytest.raises(ValueError, match="driver-local"):
                streaming_cdc_apply(
                    stream, bad, str(tmp_path / "c"), keys=["k"]
                )


class TestStreamingCdcApply:
    def test_merge_stream_and_replay_idempotent(self, spark, tmp_path):
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        schema = T2.StructType(
            [
                T2.StructField("k", T2.LongType()),
                T2.StructField("v", T2.StringType()),
                T2.StructField("op", T2.StringType()),
            ]
        )
        table = str(tmp_path / "tbl")
        src = str(tmp_path / "changes")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).write.parquet(table)

        # batch 1: update k=2, delete k=3, insert k=4
        spark.createDataFrame(
            [(2, "B2", "update"), (3, None, "delete"), (4, "d", "insert")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q = streaming_cdc_apply(
            spark.readStream.schema(schema).parquet(src), table, ckpt, keys=["k"]
        )
        assert q.awaitTermination(300), 'stream drain timed out'
        got = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
        assert got == [(1, "a"), (2, "B2"), (4, "d")]

        # replay the same changeset with a fresh checkpoint (crashed-
        # checkpoint worst case): apply_changeset is idempotent →
        # table unchanged
        ckpt2 = str(tmp_path / "ckpt2")
        q2 = streaming_cdc_apply(
            spark.readStream.schema(schema).parquet(src), table, ckpt2, keys=["k"]
        )
        assert q2.awaitTermination(300), 'stream drain timed out'
        got2 = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
        assert got2 == got

        # batch 2 on the resumed original checkpoint: delete the
        # earlier insert + a fresh insert
        spark.createDataFrame(
            [(4, None, "delete"), (5, "e", "insert")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q3 = streaming_cdc_apply(
            spark.readStream.schema(schema).parquet(src), table, ckpt, keys=["k"]
        )
        assert q3.awaitTermination(300), 'stream drain timed out'
        got3 = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
        assert got3 == [(1, "a"), (2, "B2"), (5, "e")]


class TestStreamingCdcApplyEdges:
    _SCHEMA = "k long, v string, op string"
    _SEQ_SCHEMA = "k long, v string, op string, seq long"

    def _start_table(self, spark, path):
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        ).write.parquet(path)

    def test_conflicting_key_in_one_batch_raises_without_seq(
        self, spark, tmp_path
    ):
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        table = str(tmp_path / "tbl")
        src = str(tmp_path / "changes")
        os.makedirs(src)
        self._start_table(spark, table)
        schema = T2._parse_datatype_string(self._SCHEMA)
        # two files land BEFORE the stream starts -> one micro-batch
        # with two ops for k=9 (insert then delete, order undefined)
        spark.createDataFrame([(9, "x", "insert")], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        spark.createDataFrame([(9, None, "delete")], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        q = streaming_cdc_apply(
            spark.readStream.schema(schema).parquet(src),
            table,
            str(tmp_path / "ckpt"),
            keys=["k"],
        )
        try:
            assert q.awaitTermination(300), 'stream drain timed out'
        except Exception:
            pass
        assert q.exception() is not None
        assert "multiple ops" in str(q.exception())
        # table untouched — the refusal happened before any write
        got = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
        assert got == [(1, "a"), (2, "b")]

    def test_seq_col_resolves_last_op_per_key(self, spark, tmp_path):
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        table = str(tmp_path / "tbl")
        src = str(tmp_path / "changes")
        os.makedirs(src)
        self._start_table(spark, table)
        schema = T2._parse_datatype_string(self._SEQ_SCHEMA)
        # one batch: k=2 updated twice (seq decides), k=9 inserted
        # then deleted (net no-op)
        spark.createDataFrame(
            [(2, "B2", "update", 1), (9, "x", "insert", 2)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(
            [(2, "B3", "update", 3), (9, None, "delete", 4)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q = streaming_cdc_apply(
            spark.readStream.schema(schema).parquet(src),
            table,
            str(tmp_path / "ckpt"),
            keys=["k"],
            seq_col="seq",
        )
        assert q.awaitTermination(300), 'stream drain timed out'
        assert q.exception() is None
        got = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
        assert got == [(1, "a"), (2, "B3")]

    def test_torn_swap_self_heals_on_next_batch(self, spark, tmp_path):
        import shutil as sh

        from pyspark.sql import types as T2

        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        table = str(tmp_path / "tbl")
        src = str(tmp_path / "changes")
        os.makedirs(src)
        self._start_table(spark, table)
        # simulate a crash between the two os.replace calls: the
        # table dir moved aside, nothing at the table path
        os.replace(table, table + ".__old")
        assert not os.path.exists(table)
        schema = T2._parse_datatype_string(self._SCHEMA)
        spark.createDataFrame([(5, "e", "insert")], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        q = streaming_cdc_apply(
            spark.readStream.schema(schema).parquet(src),
            table,
            str(tmp_path / "ckpt"),
            keys=["k"],
        )
        assert q.awaitTermination(300), 'stream drain timed out'
        assert q.exception() is None
        got = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
        assert got == [(1, "a"), (2, "b"), (5, "e")]
        sh.rmtree(table + ".__old", ignore_errors=True)
