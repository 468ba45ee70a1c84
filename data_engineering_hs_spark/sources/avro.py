"""Avro file + record codec (SURVEY.md §2.1 S13, S15).

The reference writes/reads Avro container files with fastavro
(lab06-avro-streaming/avro_test.ipynb:10-23) and decodes schemaless
Kafka values with Spark's `from_avro`
(spark_kafka_foreachbatch.py:51-66).

This environment ships neither the spark-avro datasource jar nor
fastavro, so the engine carries a minimal pure-Python Avro binary
codec (spec-conformant subset: null/boolean/int/long/float/double/
bytes/string, flat records, ["null", T] unions — exactly the shapes
the reference uses). Spark integration is Spark-first:

- read_avro: `binaryFile` scan → mapInPandas decode per file —
  distributed, Arrow-batched, no driver bottleneck.
- decode_avro_column: the from_avro equivalent for a binary column
  of schemaless records (the Kafka value shape), as a pandas UDF.

When a spark-avro jar IS on the classpath (real clusters), use_native
switches to `format("avro")` / `from_avro` transparently.
"""

from __future__ import annotations

import io
import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

# --- varint / zigzag (Avro spec §binary encoding) --------------------------


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


# --- primitive codecs ------------------------------------------------------


def _encode_value(v, typ) -> bytes:
    if isinstance(typ, list):  # union, e.g. ["null", "string"]
        if v is None:
            idx = typ.index("null")
            return _zigzag_encode(idx)
        idx = next(i for i, t in enumerate(typ) if t != "null")
        return _zigzag_encode(idx) + _encode_value(v, typ[idx])
    if typ == "null":
        return b""
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ in ("int", "long"):
        return _zigzag_encode(int(v))
    if typ == "float":
        return struct.pack("<f", float(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "bytes":
        return _zigzag_encode(len(v)) + bytes(v)
    if typ == "string":
        raw = str(v).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    raise ValueError(f"unsupported avro type: {typ}")


def _decode_value(buf: io.BytesIO, typ):
    if isinstance(typ, list):
        idx = _zigzag_decode(buf)
        return _decode_value(buf, typ[idx])
    if typ == "null":
        return None
    if typ == "boolean":
        return buf.read(1) == b"\x01"
    if typ in ("int", "long"):
        return _zigzag_decode(buf)
    if typ == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if typ == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if typ == "bytes":
        return buf.read(_zigzag_decode(buf))
    if typ == "string":
        return buf.read(_zigzag_decode(buf)).decode("utf-8")
    raise ValueError(f"unsupported avro type: {typ}")


def _field_types(schema: dict) -> list[tuple[str, object]]:
    if schema.get("type") != "record":
        raise ValueError(
            f"unsupported avro schema type {schema.get('type')!r}: only "
            "flat records are supported"
        )
    return [(f["name"], f["type"]) for f in schema["fields"]]


def encode_record(rec: dict, schema: dict) -> bytes:
    """Schemaless (datum) encoding — the Kafka value shape
    (async_data_gen.py:72-76 schemaless_writer parity)."""
    return b"".join(_encode_value(rec[n], t) for n, t in _field_types(schema))


def decode_record(data: bytes, schema: dict) -> dict:
    buf = io.BytesIO(data)
    return {n: _decode_value(buf, t) for n, t in _field_types(schema)}


# --- object container file (Avro spec §object container files) -------------


def write_container(path: str, records: list[dict], schema: dict) -> None:
    """Write an Avro container file (codec=null) — avro_test.ipynb:51
    parity. Driver/executor-side small-file writer; the distributed
    write path partitions the DataFrame and calls this per partition."""
    sync = os.urandom(16)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"null",
    }
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(_zigzag_encode(len(meta)))
        for k, v in meta.items():
            kb = k.encode()
            f.write(_zigzag_encode(len(kb)) + kb)
            f.write(_zigzag_encode(len(v)) + v)
        f.write(_zigzag_encode(0))
        f.write(sync)
        blob = b"".join(encode_record(r, schema) for r in records)
        f.write(_zigzag_encode(len(records)))
        f.write(_zigzag_encode(len(blob)))
        f.write(blob)
        f.write(sync)


def read_container_bytes(data: bytes) -> tuple[dict, list[dict]]:
    """Parse one container file → (schema, records). Raises
    ValueError on a bad magic, a compressed codec or a non-record
    schema — never decodes compressed blocks as raw bytes."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an avro container file (bad magic bytes)")
    meta: dict[str, bytes] = {}
    n = _zigzag_decode(buf)
    while n:
        if n < 0:
            # Avro map encoding: negative count → abs(count) entries,
            # preceded by the block's byte size (skippable form).
            _zigzag_decode(buf)
            n = -n
        for _ in range(n):
            klen = _zigzag_decode(buf)
            k = buf.read(klen).decode()
            vlen = _zigzag_decode(buf)
            meta[k] = buf.read(vlen)
        n = _zigzag_decode(buf)
    if "avro.schema" not in meta:
        raise ValueError("avro container header has no avro.schema entry")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(
            f"unsupported codec {codec.decode(errors='replace')!r}: only "
            "uncompressed (null-codec) avro containers are supported"
        )
    buf.read(16)  # sync
    ftypes = _field_types(schema)
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        count = _zigzag_decode(buf)
        _size = _zigzag_decode(buf)
        for _ in range(count):
            records.append({n: _decode_value(buf, t) for n, t in ftypes})
        buf.read(16)
    return schema, records


def _avro_to_spark_type(typ) -> T.DataType:
    if isinstance(typ, list):
        inner = next(t for t in typ if t != "null")
        return _avro_to_spark_type(inner)
    return {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
        "null": T.NullType(),
    }[typ]


def spark_schema_for(schema: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(n, _avro_to_spark_type(t), True)
            for n, t in _field_types(schema)
        ]
    )


def _has_native_avro(spark: SparkSession) -> bool:
    try:
        spark.read.format("avro")
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.spark.sql.avro.AvroFileFormat")
        return True
    except Exception:
        return False


def read_avro(
    spark: SparkSession, path: str, schema_json: str, use_native: bool | None = None
) -> DataFrame:
    """S13: read Avro container files as a DataFrame.

    Native spark-avro when present; else distributed binaryFile scan +
    per-file Python decode (files are the parallelism unit, matching
    Avro's file-per-producer layout).
    """
    if use_native is None:
        use_native = _has_native_avro(spark)
    if use_native:
        return spark.read.format("avro").load(path)

    schema = json.loads(schema_json)
    out_schema = spark_schema_for(schema)
    fields = _field_types(schema)

    def decode_files(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                file_schema, records = read_container_bytes(bytes(content))
                # records decode under the FILE's schema but columns
                # come from the caller's — a name mismatch would
                # silently produce all-NaN columns, so fail loudly
                missing = {n for n, _ in fields} - {
                    n for n, _ in _field_types(file_schema)
                }
                if missing:
                    raise ValueError(
                        f"avro reader schema fields {sorted(missing)} "
                        "absent from the file's writer schema"
                    )
                rows.extend(records)
            # dtype=object: pandas otherwise coerces a long column
            # holding ints AND None to float64 (None → NaN), silently
            # rounding values above 2^53 — 2^60+1 read back as 2^60
            # (reproduced before this fix). Object columns carry exact
            # Python ints to Arrow, which converts None → null.
            yield pd.DataFrame(
                rows, columns=[n for n, _ in fields], dtype=object
            )

    binary = spark.read.format("binaryFile").load(path).select("content")
    return binary.mapInPandas(decode_files, schema=out_schema)


def decode_avro_column(
    df: DataFrame, binary_col: str, schema_json: str, out_col: str = "data"
) -> DataFrame:
    """S15: from_avro(col, schema) equivalent for schemaless records.

    Arrow-batched pandas UDF decode of a binary column into a struct
    column; keep surrounding columns (topic/partition/offset parity).
    """
    schema = json.loads(schema_json)
    out_schema = spark_schema_for(schema)
    fields = _field_types(schema)

    @F.pandas_udf(returnType=out_schema)
    def _decode(s):
        import pandas as pd

        recs = []
        for v in s:
            if v is None:
                # Kafka tombstone (null value) — from_avro, the
                # documented equivalent, returns null; bytes(None)
                # would kill the whole query instead
                recs.append({n: None for n, _ in fields})
                continue
            buf = io.BytesIO(bytes(v))
            recs.append({n: _decode_value(buf, t) for n, t in fields})
        # dtype=object: see read_avro — int+None columns otherwise
        # coerce to float64 and corrupt longs above 2^53
        return pd.DataFrame(recs, columns=[n for n, _ in fields], dtype=object)

    return df.withColumn(out_col, _decode(F.col(binary_col)))
