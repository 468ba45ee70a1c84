"""Source/sink component tests (SURVEY.md §2.1) over reference-shaped
fixtures (FIXTURES.md §B)."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_hs_spark.sources import avro as A
from data_engineering_hs_spark.sources import csv as C
from data_engineering_hs_spark.sources import json as J
from data_engineering_hs_spark.sources import parquet as P
from data_engineering_hs_spark.sources.upsert import (
    commit_watermark,
    read_watermark,
    upsert_parquet,
)

TX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("items", T.StringType()),
        T.StructField("category", T.StringType()),
    ]
)


def _write_tx_files(d: str, n_files: int = 5, rows_per: int = 20, gz: bool = False):
    cats = ["Food", "Toys", "Electronics", "Books", "Stationery", "Tools"]
    total = 0
    for f_i in range(n_files):
        lines = []
        for r in range(rows_per):
            rid = f_i * rows_per + r
            cat = cats[rid % len(cats)]
            lines.append(
                f'{rid},"2015-06-0{1 + rid % 9} 12:00:00","a,b,c","{cat}"'
            )
            total += 1
        name = os.path.join(d, f"part_{f_i:06d}.csv" + (".gz" if gz else ""))
        data = ("\n".join(lines) + "\n").encode()
        if gz:
            with gzip.open(name, "wb") as fh:
                fh.write(data)
        else:
            with open(name, "wb") as fh:
                fh.write(data)
    return total


class TestCsv:
    def test_many_small_files_scan(self, spark, tmp_path):
        # S1: glob + union + supplied names, one declarative read.
        d = str(tmp_path / "tx")
        os.makedirs(d)
        total = _write_tx_files(d, n_files=8)
        df = C.read_headerless(spark, d + "/*.csv", TX_SCHEMA)
        assert df.count() == total
        assert df.schema["id"].dataType == T.IntegerType()
        assert df.filter(F.col("category") == "Food").count() > 0

    def test_gzip_scan_transparent(self, spark, tmp_path):
        # S3: .csv.gz decodes with the same API.
        d = str(tmp_path / "txgz")
        os.makedirs(d)
        total = _write_tx_files(d, n_files=3, gz=True)
        df = C.read_headerless(spark, d + "/*.csv.gz", TX_SCHEMA)
        assert df.count() == total

    def test_header_roundtrip_and_infer(self, spark, tmp_path):
        # S2/S4: write header CSV, re-read with inference fallback.
        d = str(tmp_path / "hdr")
        src = spark.createDataFrame(
            [(1, "x"), (2, "y")], T.StructType(
                [T.StructField("id", T.IntegerType()), T.StructField("v", T.StringType())]
            )
        )
        C.write_csv(src, d)
        inferred = C.read_with_header(spark, d, infer=True)
        assert inferred.count() == 2
        assert dict(inferred.dtypes)["id"] == "int"

    def test_compact_small_files(self, spark, tmp_path):
        # Remediation path: 50k-small-files shape → one parquet dataset.
        d = str(tmp_path / "tx2")
        os.makedirs(d)
        total = _write_tx_files(d, n_files=6)
        out = str(tmp_path / "tx_parquet")
        df = C.compact(spark, d + "/*.csv", TX_SCHEMA, out, target_partitions=2)
        assert df.count() == total
        assert df.rdd.getNumPartitions() <= 4


class TestJson:
    def test_jsonl_nested_schema_with_corrupt_quarantine(self, spark, tmp_path):
        # S5: explicit nested schema + PERMISSIVE corrupt capture.
        p = str(tmp_path / "ev.jsonl")
        good = {"ts": "2025-01-01T00:00:00Z", "event": "view",
                "props": {"price": 9.99}}
        with open(p, "w") as f:
            f.write(json.dumps(good) + "\n")
            f.write('{"ts": broken\n')
        schema = T.StructType(
            [
                T.StructField("ts", T.StringType()),
                T.StructField("event", T.StringType()),
                T.StructField(
                    "props",
                    T.StructType([T.StructField("price", T.DoubleType())]),
                ),
            ]
        )
        df = J.read_jsonl(spark, p, schema, keep_corrupt=True)
        rows = df.collect()
        assert len(rows) == 2
        corrupt = [r for r in rows if r[J.CORRUPT_COL] is not None]
        assert len(corrupt) == 1
        ok = [r for r in rows if r[J.CORRUPT_COL] is None][0]
        assert ok["props"]["price"] == 9.99

    def test_document_array_explode(self, spark, tmp_path):
        # S6: {generated_at, meta, users:[...]} envelope → rows (B2 shape).
        from data_engineering_hs_spark.catalog import USERS_DOC_SCHEMA

        doc = {
            "generated_at": "2025-05-01T00:00:00Z",
            "meta": {"source": "gen", "version": "1"},
            "users": [
                {
                    "id": "u00001",
                    "profile": {"name": "A", "username": "a", "ip": "10.0.0.1",
                                "tz": "UTC", "locale": "en_US"},
                    "contact": {"email": "a@x.com", "phone": "1"},
                    "preferences": {"lang": "en", "marketing_opt_in": True,
                                    "theme": "dark"},
                    "devices": [{"ua": "ff", "os": "Linux"}],
                    "tags": ["vip"],
                },
                {
                    "id": "u00002",
                    "profile": {"name": "B", "username": "b", "ip": "10.0.0.2",
                                "tz": "UTC", "locale": "de_DE"},
                    "contact": {"email": "b@x.com", "phone": "2"},
                    "preferences": {"lang": "de", "marketing_opt_in": False,
                                    "theme": "light"},
                    "devices": [{"ua": "ch", "os": "iOS"}, {"ua": "sf", "os": "macOS"}],
                    "tags": [],
                },
            ],
        }
        p = str(tmp_path / "users.json")
        with open(p, "w") as f:
            json.dump(doc, f)
        df = J.read_document_array(spark, p, USERS_DOC_SCHEMA, "users")
        rows = df.orderBy("id").collect()
        assert [r["id"] for r in rows] == ["u00001", "u00002"]
        assert rows[0]["generated_at"] == "2025-05-01T00:00:00Z"
        # nested array-of-struct survives (F8 explode source material)
        assert rows[1]["devices"][1]["os"] == "macOS"


class TestParquet:
    def test_partitioned_write_and_pruned_read(self, spark, tmp_path):
        # S8/S9: partitionBy write, filter-pruned read.
        out = str(tmp_path / "pq")
        df = spark.range(100).withColumn(
            "part", (F.col("id") % 4).cast("int")
        )
        P.write_partitioned(df, out, ["part"])
        pruned = P.read_pruned(spark, out, part=2)
        assert pruned.count() == 25
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan, not a post-filter
        assert "PartitionFilters" in plan

    def test_dynamic_overwrite_touches_only_new_partitions(self, spark, tmp_path):
        out = str(tmp_path / "pq2")
        df1 = spark.createDataFrame([(1, 0), (2, 1)], ["v", "part"])
        P.write_partitioned(df1, out, ["part"])
        df2 = spark.createDataFrame([(99, 1)], ["v", "part"])
        P.write_partitioned(df2, out, ["part"], dynamic=True)
        got = {
            (r["part"], r["v"])
            for r in spark.read.parquet(out).collect()
        }
        # partition 0 untouched; partition 1 replaced
        assert got == {(0, 1), (1, 99)}


WEATHER_AVRO = {
    "type": "record",
    "name": "Weather",
    "fields": [
        {"name": "station", "type": "string"},
        {"name": "time", "type": "long"},
        {"name": "temp", "type": "int"},
    ],
}
# B11: the reference's exact weather rows (avro_test.ipynb:10-47).
WEATHER_ROWS = [
    {"station": "011990-99999", "time": -619524000000, "temp": 0},
    {"station": "011990-99999", "time": -619506000000, "temp": 22},
    {"station": "011990-99999", "time": -619484400000, "temp": -11},
    {"station": "012650-99999", "time": -655531200000, "temp": 111},
]


class TestAvro:
    def test_container_roundtrip(self, tmp_path):
        # S13 codec level: write container, parse it back.
        p = str(tmp_path / "w.avro")
        A.write_container(p, WEATHER_ROWS, WEATHER_AVRO)
        with open(p, "rb") as f:
            schema, recs = A.read_container_bytes(f.read())
        assert schema["name"] == "Weather"
        assert recs == WEATHER_ROWS

    def test_read_avro_distributed(self, spark, tmp_path):
        # S13 Spark level: binaryFile + mapInPandas decode.
        d = str(tmp_path / "avrodir")
        os.makedirs(d)
        A.write_container(os.path.join(d, "a.avro"), WEATHER_ROWS[:2], WEATHER_AVRO)
        A.write_container(os.path.join(d, "b.avro"), WEATHER_ROWS[2:], WEATHER_AVRO)
        df = A.read_avro(
            spark, d, json.dumps(WEATHER_AVRO), use_native=False
        )
        got = sorted(
            (r["station"], r["time"], r["temp"]) for r in df.collect()
        )
        want = sorted((r["station"], r["time"], r["temp"]) for r in WEATHER_ROWS)
        assert got == want

    def test_decode_avro_column(self, spark):
        # S15: from_avro equivalent on a binary column (kafka value shape).
        from data_engineering_hs_spark.catalog import KAFKA_EVENT_AVRO_SCHEMA

        schema = json.loads(KAFKA_EVENT_AVRO_SCHEMA)
        events = [
            {"user": "u_ab12cd", "event": "click", "amount": 10.25, "ts": 1700000000000},
            {"user": "u_ef34gh", "event": "purchase", "amount": 99.99, "ts": 1700000001000},
        ]
        payloads = [(A.encode_record(e, schema),) for e in events]
        df = spark.createDataFrame(payloads, T.StructType(
            [T.StructField("value", T.BinaryType())]
        ))
        out = A.decode_avro_column(df, "value", KAFKA_EVENT_AVRO_SCHEMA)
        rows = out.select("data.*").orderBy("ts").collect()
        assert rows[0]["user"] == "u_ab12cd"
        assert rows[1]["amount"] == pytest.approx(99.99)

    def test_union_nullable_fields(self, tmp_path):
        schema = {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "a", "type": ["null", "string"]},
                {"name": "b", "type": "long"},
            ],
        }
        recs = [{"a": None, "b": 1}, {"a": "x", "b": 2}]
        p = str(tmp_path / "u.avro")
        A.write_container(p, recs, schema)
        with open(p, "rb") as f:
            _, got = A.read_container_bytes(f.read())
        assert got == recs


class TestUpsert:
    def test_idempotent_upsert(self, spark, tmp_path):
        # S21: ON CONFLICT DO NOTHING semantics — re-running a batch is a no-op.
        target = str(tmp_path / "target")
        b1 = spark.createDataFrame(
            [("t1", 1.0), ("t2", 2.0), ("t2", 2.0)], ["transaction_id", "v"]
        )
        n1 = upsert_parquet(spark, target, b1, ["transaction_id"])
        assert n1 == 2  # intra-batch dedup
        n2 = upsert_parquet(spark, target, b1, ["transaction_id"])
        assert n2 == 0  # idempotent replay
        b2 = spark.createDataFrame([("t2", 9.9), ("t3", 3.0)], ["transaction_id", "v"])
        n3 = upsert_parquet(spark, target, b2, ["transaction_id"])
        assert n3 == 1  # only the new key lands (DO NOTHING on t2)
        final = {r["transaction_id"]: r["v"] for r in spark.read.parquet(target).collect()}
        assert final == {"t1": 1.0, "t2": 2.0, "t3": 3.0}

    def test_watermark_commit(self, tmp_path):
        # S23: atomic watermark file.
        wm = str(tmp_path / "_watermark")
        assert read_watermark(wm, "") == ""
        commit_watermark(wm, "fuel_export_20250101_000000.parquet")
        assert read_watermark(wm) == "fuel_export_20250101_000000.parquet"


class TestEventsLoaderEncodings:
    """The driver has regenerated events.parquet with different ts
    physical types across rounds (TIMESTAMP(NANOS) r1-r3, MICROS since
    r4). The loader must produce identical session-UTC timestamps for
    both encodings so a future regeneration can't break every
    events-reading query again (VERDICT r4 §What's wrong #1)."""

    def test_events_loader_both_encodings(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_engineering_hs_spark.catalog import load_table

        micros = [1704067200_000_000 + i * 61_000_003 for i in range(50)]
        base = {
            "event_id": pa.array(range(50), pa.int64()),
            "user_id": pa.array([i % 7 for i in range(50)], pa.int64()),
            "event_type": pa.array(["click"] * 50),
            "value": pa.array([float(i) for i in range(50)]),
            "props": pa.array(['{"k": 1}'] * 50),
        }
        nanos_dir = tmp_path / "nanos"
        micros_dir = tmp_path / "micros"
        for d in (nanos_dir, micros_dir):
            d.mkdir()
        pq.write_table(
            pa.table({**base, "ts": pa.array(micros, pa.timestamp("us"))
                      .cast(pa.timestamp("ns"))}),
            str(nanos_dir / "events.parquet"),
            store_schema=False,
            coerce_timestamps=None,
            version="2.6",
        )
        pq.write_table(
            pa.table({**base, "ts": pa.array(micros, pa.timestamp("us"))}),
            str(micros_dir / "events.parquet"),
            store_schema=False,
        )
        # Footer sanity: the two files genuinely differ physically.
        t_nanos = pq.read_schema(str(nanos_dir / "events.parquet")).field("ts").type
        t_micros = pq.read_schema(str(micros_dir / "events.parquet")).field("ts").type
        assert "ns" in str(t_nanos) and "us" in str(t_micros)

        a = load_table(spark, str(nanos_dir), "events")
        b = load_table(spark, str(micros_dir), "events")
        assert dict(a.dtypes)["ts"] == "timestamp"
        assert dict(b.dtypes)["ts"] == "timestamp"
        va = [r.ts for r in a.select("ts").orderBy("event_id").collect()]
        vb = [r.ts for r in b.select("ts").orderBy("event_id").collect()]
        assert va == vb
        assert va[1].isoformat() == "2024-01-01T00:01:01.000003"

    def test_events_stream_schema_probe(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        from data_engineering_hs_spark.queries.streaming_q import (
            _events_raw_ts_type,
        )

        micros = [1704067200_000_000]
        for unit, expect in (
            ("ns", T.LongType()),
            ("us", T.TimestampNTZType()),
        ):
            d = tmp_path / f"probe_{unit}"
            d.mkdir()
            pq.write_table(
                pa.table({"ts": pa.array(micros, pa.timestamp(unit))}),
                str(d / "events.parquet"),
                store_schema=False,
                coerce_timestamps=None,
                version="2.6",
            )
            assert _events_raw_ts_type(str(d)) == expect, unit


class TestSwapRecovery:
    """recover_swap must restore a complete dataset from every crash
    state of the rename-aside protocol (compact_ingest_store /
    streaming_cdc_apply)."""

    def _mk(self, spark, d, rows):
        spark.createDataFrame([(i,) for i in rows], "v long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)

    def test_intact_cleans_leftovers(self, spark, tmp_path):
        from data_engineering_hs_spark.sources.parquet import recover_swap

        p = str(tmp_path / "t")
        self._mk(spark, p, [1, 2])
        self._mk(spark, p + ".__old", [0])
        assert recover_swap(p) == "intact"
        assert not os.path.exists(p + ".__old")
        assert sorted(r.v for r in spark.read.parquet(p).collect()) == [1, 2]

    def test_crash_between_renames_completes_swap(self, spark, tmp_path):
        from data_engineering_hs_spark.sources.parquet import recover_swap

        p = str(tmp_path / "t")
        # state: norm renamed aside, tmp complete, crash before rename 2
        self._mk(spark, p + ".__old", [1, 2])
        self._mk(spark, p + ".__merge", [1, 2, 3])
        assert recover_swap(p) == "completed_swap"
        assert sorted(r.v for r in spark.read.parquet(p).collect()) == [1, 2, 3]
        assert not os.path.exists(p + ".__old")

    def test_torn_tmp_rolls_back(self, spark, tmp_path):
        from data_engineering_hs_spark.sources.parquet import recover_swap

        p = str(tmp_path / "t")
        self._mk(spark, p + ".__old", [1, 2])
        # torn tmp: no _SUCCESS marker
        self._mk(spark, p + ".__compact", [9])
        os.remove(os.path.join(p + ".__compact", "_SUCCESS"))
        assert recover_swap(p) == "rolled_back"
        assert sorted(r.v for r in spark.read.parquet(p).collect()) == [1, 2]
        assert not os.path.exists(p + ".__compact")

    def test_nothing_recoverable_raises(self, tmp_path):
        import pytest as _pytest

        from data_engineering_hs_spark.sources.parquet import recover_swap

        with _pytest.raises(FileNotFoundError):
            recover_swap(str(tmp_path / "absent"))

    def test_swap_entry_points_reject_remote_paths(self, spark, tmp_path):
        # the swap is POSIX renames + os.listdir; a URI path must be
        # refused up front, not die mid-protocol after the rewrite
        import pytest as _pytest

        from data_engineering_hs_spark.sources.parquet import recover_swap
        from data_engineering_hs_spark.streaming.pipelines import (
            compact_ingest_store,
            streaming_cdc_apply,
        )

        changes = spark.readStream.schema("k long, op string").parquet(
            str(tmp_path)
        )
        for call in (
            lambda: compact_ingest_store(spark, "s3a://bucket/t"),
            lambda: recover_swap("hdfs://nn/t"),
            lambda: streaming_cdc_apply(
                changes, "s3a://bucket/t", str(tmp_path / "ckpt"), keys=["k"]
            ),
        ):
            with _pytest.raises(ValueError, match="driver-local path"):
                call()


class TestUpsertEmptyTargetDir:
    def test_existing_empty_dir_counts_as_absent(self, spark, tmp_path):
        # a crash between mkdir and first commit leaves an empty
        # target dir; the next batch must bootstrap, not die on
        # schema inference
        from data_engineering_hs_spark.sources.upsert import upsert_parquet

        target = str(tmp_path / "t_up")
        os.makedirs(target)
        b = spark.createDataFrame([(1, "a")], "transaction_id long, v string")
        assert upsert_parquet(spark, target, b, ["transaction_id"]) == 1
        assert upsert_parquet(spark, target, b, ["transaction_id"]) == 0


class TestAvroEdges:
    def test_decode_null_tombstone_yields_null_fields(self, spark):
        import json as _json

        from data_engineering_hs_spark.catalog import KAFKA_EVENT_AVRO_SCHEMA
        from data_engineering_hs_spark.sources import avro as A2

        schema = _json.loads(KAFKA_EVENT_AVRO_SCHEMA)
        good = A2.encode_record(
            {"user": "u_1", "event": "click", "amount": 1.0,
             "ts": 1700000000000},
            schema,
        )
        df = spark.createDataFrame(
            [(good,), (None,)], "value binary"
        )
        rows = (
            A2.decode_avro_column(df, "value", KAFKA_EVENT_AVRO_SCHEMA)
            .select("data.*")
            .collect()
        )
        by_user = {r["user"] for r in rows}
        assert by_user == {"u_1", None}  # tombstone -> null fields, no crash

    def test_nullable_long_above_2_53_survives_exactly(
        self, spark, tmp_path
    ):
        # r12 regression: a nullable long column holding ints AND None
        # coerced to float64 in pandas (None -> NaN) before reaching
        # Arrow, silently ROUNDING values above 2^53 — 2^60+1 read
        # back as 2^60. Both decode paths must carry exact ints.
        import json as _json

        from data_engineering_hs_spark.sources import avro as A2

        schema = {
            "type": "record", "name": "R",
            "fields": [{"name": "id", "type": ["null", "long"]}],
        }
        big = 2**60 + 1
        p = str(tmp_path / "big.avro")
        A2.write_container(p, [{"id": big}, {"id": None}], schema)
        got = {
            r.id
            for r in A2.read_avro(
                spark, str(tmp_path), _json.dumps(schema), use_native=False
            ).collect()
        }
        assert got == {big, None}
        df = spark.createDataFrame(
            [(A2.encode_record({"id": big}, schema),), (None,)],
            "value binary",
        )
        got2 = {
            r.id
            for r in A2.decode_avro_column(
                df, "value", _json.dumps(schema)
            ).select("data.*").collect()
        }
        assert got2 == {big, None}

    def test_read_avro_schema_name_mismatch_raises(self, spark, tmp_path):
        import json as _json

        from data_engineering_hs_spark.sources import avro as A2

        schema = {
            "type": "record", "name": "R",
            "fields": [{"name": "amount", "type": "long"}],
        }
        p = str(tmp_path / "f.avro")
        A2.write_container(p, [{"amount": 5}], schema)
        bad_reader = _json.dumps({
            "type": "record", "name": "R",
            "fields": [{"name": "amt", "type": "long"}],
        })
        import pytest as _pytest

        with _pytest.raises(Exception, match="absent from the file"):
            A2.read_avro(
                spark, p, bad_reader, use_native=False
            ).collect()


class TestDetectGapsNumeric:
    def test_epoch_seconds_column(self, spark):
        from data_engineering_hs_spark.operators.timeseries import detect_gaps

        df = spark.createDataFrame(
            [("k", 0), ("k", 100), ("k", 5000)], "k string, bucket long"
        )
        gaps = detect_gaps(df, "k", "bucket", 1000).collect()
        assert len(gaps) == 1
        assert gaps[0]["gap_seconds"] == 4900
