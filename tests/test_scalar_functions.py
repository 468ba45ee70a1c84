"""Unit tests for the scalar helper library (functions/scalar.py) —
every helper the reference's SQL surface maps onto."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_hs_spark.functions import scalar as S


class TestScalarHelpers:
    def test_string_family(self, spark):
        df = spark.createDataFrame(
            [("  Ada LOVELACE ", "grace", "HOPPER")], ["raw", "first", "last"]
        )
        row = df.select(
            S.norm_name("raw").alias("norm"),
            S.md5_identity("raw").alias("digest"),
            S.full_name("first", "last").alias("full"),
            S.ilike("raw", "%lovelace%").alias("m"),
        ).collect()[0]
        assert row["norm"] == "ada lovelace"
        import hashlib

        assert row["digest"] == hashlib.md5(b"ada lovelace").hexdigest()
        assert row["full"] == "Grace Hopper"
        assert row["m"] is True

    def test_packed_list_split(self, spark):
        df = spark.createDataFrame([("a,b,c",)], ["items"])
        got = df.select(S.split_packed_list("items").alias("arr")).collect()[0]
        assert got["arr"] == ["a", "b", "c"]

    def test_time_family(self, spark):
        ts = dt.datetime(2025, 9, 1, 13, 7, 0)
        df = spark.createDataFrame(
            [(ts, "01/Sep/2025:13:07:00 +0000", 1756732020000)],
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("log_ts", T.StringType()),
                    T.StructField("millis", T.LongType()),
                ]
            ),
        )
        row = df.select(
            S.to_log_timestamp("log_ts").alias("parsed"),
            S.month_bucket("ts").alias("bucket"),
            S.time_of_day_between("ts", "13:00", "13:15").alias("in_window"),
            S.time_of_day_between("ts", "13:15", "13:30").alias("out_window"),
            S.epoch_millis_to_ts("millis").alias("from_ms"),
            S.ts_to_epoch_millis("ts").alias("to_ms"),
        ).collect()[0]
        assert row["parsed"] == ts
        assert row["bucket"] == 202509
        assert row["in_window"] is True and row["out_window"] is False
        assert row["from_ms"] == dt.datetime(2025, 9, 1, 13, 7, 0)
        assert row["to_ms"] == 1756732020000

    def test_money_family(self, spark):
        df = spark.createDataFrame(
            [(12.34, Decimal("100.00"), Decimal("30.00"))],
            T.StructType(
                [
                    T.StructField("amount", T.DoubleType()),
                    T.StructField("total", T.DecimalType(12, 2)),
                    T.StructField("paid", T.DecimalType(12, 2)),
                ]
            ),
        )
        row = df.select(
            S.money_cents("amount").alias("cents"),
            S.to_money("amount").alias("dec"),
            S.outstanding("total", "paid").alias("due"),
            S.outstanding("total", F.lit(None).cast("decimal(12,2)")).alias(
                "due_null_paid"
            ),
        ).collect()[0]
        assert row["cents"] == 1234
        assert row["dec"] == Decimal("12.34")
        assert row["due"] == Decimal("70.00")
        assert row["due_null_paid"] == Decimal("100.00")

    def test_json_family(self, spark):
        df = spark.createDataFrame([('{"price": 9.5, "tags": ["a"]}',)], ["props"])
        schema = T.StructType([T.StructField("price", T.DoubleType())])
        row = df.select(
            S.json_get("props", "price").alias("raw"),
            S.json_decode("props", schema).alias("parsed"),
        ).collect()[0]
        assert float(row["raw"]) == 9.5
        assert row["parsed"]["price"] == 9.5


class TestHardeningEdges:
    def test_punct_ratio_unicode_letters_are_letters(self, spark):
        from data_engineering_hs_spark.functions.text import punct_ratio

        df = spark.createDataFrame(
            [("Müller wohnt über der Straße",), ("你好世界 这是 中文",)],
            ["text"],
        )
        vals = [r[0] for r in df.select(punct_ratio("text")).collect()]
        assert all(v == 0.0 for v in vals), vals

    def test_to_log_timestamp_null_on_garbage(self, spark):
        from data_engineering_hs_spark.functions.scalar import (
            to_log_timestamp,
        )

        df = spark.createDataFrame(
            [("10/Oct/2023:13:55:36 +0000",), ("32/Foo/2024:99:99:99 +0000",)],
            ["raw"],
        )
        got = [r[0] for r in df.select(to_log_timestamp("raw")).collect()]
        assert got[0] is not None and got[1] is None

    def test_time_of_day_validates_and_wraps(self, spark):
        import datetime as dt

        import pytest as _pytest

        from data_engineering_hs_spark.functions.scalar import (
            time_of_day_between,
        )

        with _pytest.raises(ValueError):
            time_of_day_between(F.lit("x"), "9:00", "17:00")
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 23, 30),), (dt.datetime(2024, 1, 1, 3, 0),),
             (dt.datetime(2024, 1, 1, 12, 0),)],
            ["ts"],
        )
        late_night = df.filter(time_of_day_between("ts", "22:00", "06:00"))
        assert late_night.count() == 2

    def test_split_packed_list_literal_separator(self, spark):
        from data_engineering_hs_spark.functions.scalar import (
            split_packed_list,
        )

        df = spark.createDataFrame([("a|b|c",)], ["s"])
        assert df.select(split_packed_list("s", "|")).collect()[0][0] == [
            "a", "b", "c",
        ]

    def test_freshness_empty_and_all_null_is_error(self, spark):
        from data_engineering_hs_spark.quality.profiling import freshness

        empty = spark.createDataFrame([], "ts timestamp")
        row = freshness(empty, "ts", "2025-01-01 00:00:00").collect()[0]
        assert row["status"] == "error" and row["max_ts"] is None
        nulls = spark.createDataFrame([(None,), (None,)], "ts timestamp")
        row2 = freshness(nulls, "ts", "2025-01-01 00:00:00").collect()[0]
        assert row2["status"] == "error"


class TestVectorAndSourceEdges:
    def test_pandas_dot_tolerates_null_and_ragged(self, spark):
        from data_engineering_hs_spark.functions.vector import dot, dot_pandas

        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], [3.0, 4.0]),
                (2, None, [1.0, 1.0]),
                (3, [1.0, 2.0, 3.0], [1.0, 1.0]),  # ragged
            ],
            "i int, a array<double>, b array<double>",
        )
        got = {
            r["i"]: r["d"]
            for r in df.select("i", dot_pandas("a", "b").alias("d")).collect()
        }
        assert got[1] == 11.0
        assert got[2] is None
        assert got[3] is None
        # fold parity on the null row
        fold = df.select("i", dot("a", "b").alias("d")).collect()
        assert {r["i"]: r["d"] for r in fold}[2] is None

    def test_pandas_dot_matched_short_pair_in_mixed_dim_batch(self, spark):
        # A pair whose lengths match EACH OTHER but are shorter than
        # the batch max dim is a valid row: the fold computes it, so
        # the Arrow path must too (zero-padded, exact) — not NULL.
        # Forcing everything into one Arrow batch makes the mixed-dim
        # case deterministic rather than partition-dependent.
        from data_engineering_hs_spark.functions.vector import dot, dot_pandas

        df = spark.createDataFrame(
            [
                (1, [1.0, 2.0], [3.0, 4.0]),  # 2-dim pair
                (2, [1.0, 1.0, 1.0], [2.0, 3.0, 4.0]),  # 3-dim pair
                (3, [1.0, 2.0], [1.0, 1.0, 1.0]),  # genuinely ragged
            ],
            "i int, a array<double>, b array<double>",
        ).coalesce(1)
        got = {
            r["i"]: (r["d"], r["f"])
            for r in df.select(
                "i",
                dot_pandas("a", "b").alias("d"),
                dot("a", "b").alias("f"),
            ).collect()
        }
        assert got[1][0] == 11.0 and got[1][0] == got[1][1]
        assert got[2][0] == 9.0 and got[2][0] == got[2][1]
        assert got[3][0] is None

    def test_read_document_array_malformed_raises(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import types as T2

        from data_engineering_hs_spark.sources.json import (
            read_document_array,
        )

        p = str(tmp_path / "bad.json")
        with open(p, "w") as f:
            f.write('{"users": [  truncated')
        schema = T2.StructType(
            [
                T2.StructField(
                    "users",
                    T2.ArrayType(
                        T2.StructType([T2.StructField("id", T2.StringType())])
                    ),
                )
            ]
        )
        with _pytest.raises(Exception):
            read_document_array(spark, p, schema, "users").collect()

    def test_read_with_header_requires_schema_or_infer(self, spark):
        import pytest as _pytest

        from data_engineering_hs_spark.sources.csv import read_with_header

        with _pytest.raises(ValueError, match="schema= or infer"):
            read_with_header(spark, "/nonexistent")

    def test_negative_nanos_floor_to_micros(self, spark):
        from data_engineering_hs_spark.catalog import normalize_event_ts

        df = spark.createDataFrame([(-1500,), (1500,)], "ts long")
        out = normalize_event_ts(df).select(
            F.unix_micros("ts").alias("us")
        ).collect()
        assert sorted(r["us"] for r in out) == [-2, 1]

    def test_nanos_probe_handles_directory_datasets(self, tmp_path):
        # events.parquet can be directory-shaped (Spark-written): the
        # footer probe must inspect the first data file instead of
        # raising inside read_schema and defaulting to False — a
        # legacy TIMESTAMP(NANOS) directory would then fail to scan.
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_engineering_hs_spark.catalog import _parquet_ts_is_nanos

        tbl_ns = pa.table(
            {"ts": pa.array([1, 2], type=pa.timestamp("ns")), "v": [1, 2]}
        )
        d_ns = tmp_path / "events_ns.parquet"
        d_ns.mkdir()
        (d_ns / "_SUCCESS").write_text("")  # marker files must be skipped
        pq.write_table(
            tbl_ns, str(d_ns / "part-00000.parquet"),
            use_deprecated_int96_timestamps=False,
            coerce_timestamps=None, store_schema=True,
        )
        assert _parquet_ts_is_nanos(str(d_ns)) is True
        # micros directory -> False; empty directory -> False
        tbl_us = pa.table({"ts": pa.array([1, 2], type=pa.timestamp("us"))})
        d_us = tmp_path / "events_us.parquet"
        d_us.mkdir()
        pq.write_table(tbl_us, str(d_us / "part-00000.parquet"))
        assert _parquet_ts_is_nanos(str(d_us)) is False
        d_empty = tmp_path / "empty.parquet"
        d_empty.mkdir()
        assert _parquet_ts_is_nanos(str(d_empty)) is False
        # single-file datasets keep working
        f_ns = tmp_path / "one.parquet"
        pq.write_table(tbl_ns, str(f_ns))
        assert _parquet_ts_is_nanos(str(f_ns)) is True

    def test_nanos_probe_descends_partition_subdirs(self, tmp_path):
        # a Hive-partitioned dataset (p=.../part-*.parquet) has NO
        # top-level data files; the probe must descend to the first
        # data file instead of silently returning False (r9 ADVICE).
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_engineering_hs_spark.catalog import _parquet_ts_is_nanos

        tbl_ns = pa.table(
            {"ts": pa.array([1, 2], type=pa.timestamp("ns")), "v": [1, 2]}
        )
        d = tmp_path / "events_part.parquet"
        (d / "p=1").mkdir(parents=True)
        (d / "_SUCCESS").write_text("")
        pq.write_table(tbl_ns, str(d / "p=1" / "part-00000.parquet"))
        assert _parquet_ts_is_nanos(str(d)) is True
        # two-level partitioning too
        d2 = tmp_path / "events_part2.parquet"
        (d2 / "p=1" / "q=a").mkdir(parents=True)
        tbl_us = pa.table({"ts": pa.array([1], type=pa.timestamp("us"))})
        pq.write_table(tbl_us, str(d2 / "p=1" / "q=a" / "part-00000.parquet"))
        assert _parquet_ts_is_nanos(str(d2)) is False
