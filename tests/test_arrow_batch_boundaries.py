"""Arrow batch-boundary lens: every mapInPandas / pandas_udf /
applyInPandasWithState call site must be invariant to how Spark slices
partitions into Arrow record batches
(spark.sql.execution.arrow.maxRecordsPerBatch, default 10000).

The failure class this hunts: per-batch state that should be
per-partition (rate limiters, dedup sets, counters), logic that assumes
"the whole partition/group arrives as ONE pandas DataFrame", and
grouped-state handlers that read only the first pdf of the iterator.
At 100 TB every partition spans many batches, while the sf0.01 driver
corpus often fits a single default-sized batch — exactly the
green-but-wrong-at-scale window.

This file pins the vectorized call sites. Where a deterministic pure-Python mirror exists
we compare against it — stronger than A/B.
"""

from __future__ import annotations

import contextlib
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextlib.contextmanager
def arrow_batch_size(spark, n: int):
    """Force Arrow batches of n records; restore the session default."""
    try:
        old = spark.conf.get(BATCH_KEY)
    except Exception:
        old = None
    spark.conf.set(BATCH_KEY, str(n))
    try:
        yield spark
    finally:
        if old is None:
            spark.conf.unset(BATCH_KEY)
        else:
            spark.conf.set(BATCH_KEY, old)


@pytest.fixture()
def tiny_batches(spark):
    with arrow_batch_size(spark, 3):
        yield spark


class TestRestFetchBatchInvariance:
    def test_retry_and_results_stable_across_tiny_batches(self, tiny_batches):
        """The TokenBucket and retry policy live OUTSIDE the batch
        loop — results (including attempt counts) must not depend on
        batch slicing. Transport: ids divisible by 5 fail once with a
        503 then succeed, so attempts encodes cross-call state held
        per task."""
        from data_engineering_hs_spark.sources.rest import fetch_ids

        def make_transport():
            calls: dict[str, int] = {}

            def transport(url):
                calls[url] = calls.get(url, 0) + 1
                _id = int(url.rsplit("/", 1)[1])
                if _id % 5 == 0 and calls[url] == 1:
                    return 503, {}, None
                return 200, {}, f"payload-{_id}"

            return transport

        ids = tiny_batches.createDataFrame(
            [(i,) for i in range(23)], "id long"
        )
        out = fetch_ids(
            ids,
            "http://fake/items/{id}",
            make_transport(),
            rps_per_task=1e9,  # keep the limiter logic live but fast
            num_tasks=2,
        ).collect()
        got = {r["id"]: (r["status"], r["attempts"], r["body"]) for r in out}
        want = {
            i: (200, 2 if i % 5 == 0 else 1, f"payload-{i}")
            for i in range(23)
        }
        assert got == want


class TestAvroBatchInvariance:
    def test_read_avro_one_file_per_batch(self, spark, tmp_path):
        from data_engineering_hs_spark.sources import avro as A

        schema = {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "s", "type": "string"},
            ],
        }
        d = str(tmp_path / "avrodir")
        os.makedirs(d)
        want = []
        for f_no in range(4):
            recs = [
                {"k": f_no * 10 + j, "s": f"r{f_no}_{j}"} for j in range(3)
            ]
            want.extend((r["k"], r["s"]) for r in recs)
            A.write_container(os.path.join(d, f"f{f_no}.avro"), recs, schema)
        with arrow_batch_size(spark, 1):
            df = A.read_avro(spark, d, json.dumps(schema), use_native=False)
            got = sorted((r["k"], r["s"]) for r in df.collect())
        assert got == sorted(want)

    def test_decode_avro_column_with_tombstone(self, tiny_batches):
        from data_engineering_hs_spark.catalog import KAFKA_EVENT_AVRO_SCHEMA
        from data_engineering_hs_spark.sources import avro as A

        schema = json.loads(KAFKA_EVENT_AVRO_SCHEMA)
        events = [
            {
                "user": f"u_{i:06x}",
                "event": "click",
                "amount": float(i),
                "ts": 1700000000000 + i,
            }
            for i in range(10)
        ]
        payloads = [(A.encode_record(e, schema),) for e in events]
        payloads.insert(4, (None,))  # kafka tombstone mid-stream
        df = tiny_batches.createDataFrame(
            payloads,
            T.StructType([T.StructField("value", T.BinaryType())]),
        ).repartition(2)
        out = A.decode_avro_column(df, "value", KAFKA_EVENT_AVRO_SCHEMA)
        rows = out.select("data.*").collect()
        got = sorted(
            (r["user"], r["ts"]) for r in rows if r["user"] is not None
        )
        assert got == sorted((e["user"], e["ts"]) for e in events)
        assert sum(1 for r in rows if r["user"] is None) == 1


class TestStatefulCounterBatchInvariance:
    def test_counter_sums_every_pdf_in_the_group_iterator(
        self, tiny_batches, tmp_path
    ):
        """applyInPandasWithState hands the handler an ITERATOR of
        pandas frames per key; at maxRecordsPerBatch=3 a 25-row key
        spans ~9 frames in ONE trigger. A handler that reads only the
        first pdf (the classic bug) reports 3, not 25."""
        from data_engineering_hs_spark.streaming.kv import stateful_counter
        from data_engineering_hs_spark.streaming.pipelines import (
            run_to_memory,
        )

        d = str(tmp_path / "keys")
        os.makedirs(d)
        schema = T.StructType([T.StructField("key", T.StringType())])
        rows = [("hot",)] * 25 + [("cold",)] * 2
        tiny_batches.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

        stream = tiny_batches.readStream.schema(schema).parquet(d)
        counts = stateful_counter(stream)
        q, table = run_to_memory(counts, "kv_counter_batchlens", "update")
        try:
            got = {
                r["key"]: r["max(count)"]
                for r in table.groupBy("key").max("count").collect()
            }
        finally:
            q.stop()
        assert got == {"hot": 25, "cold": 2}


class TestPackSequencesBatchInvariance:
    def test_groups_arrive_whole_regardless_of_batch_size(
        self, spark
    ):
        """applyInPandas (grouped map) must hand pack() the ENTIRE
        shard regardless of Arrow slicing — the first-fit packing is
        order- and completeness-sensitive, so a split group would
        change bin assignments, not just perf."""
        from data_engineering_hs_spark.operators.corpus import pack_sequences

        items = [(i, 10 + (i * 7) % 50) for i in range(120)]
        df = spark.createDataFrame(items, "id long, n_tokens int")

        def run():
            out = pack_sequences(
                df, "n_tokens", "id", target=128, shards=4
            )
            return sorted(
                (r["id"], r["shard"], r["bin_id"], r["size"], r["oversize"])
                for r in out.collect()
            )

        baseline = run()
        with arrow_batch_size(spark, 3):
            tiny = run()
        assert tiny == baseline
