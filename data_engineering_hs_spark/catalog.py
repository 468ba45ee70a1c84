"""Dataset catalog: explicit StructType schemas + loaders.

The reference prefers explicit schemas handed to readers
(revenue_analysis/main.ipynb:89-150 StructType;
generate_fuel_exports.py:127-151 arrow schema;
lab05-airflow/sql/001_create_table.sql DDL) with inference as a
demonstrated fallback (mini-lab-hdfs+spark-local/spark.ipynb:205-208).
This module is the engine's equivalent: one place declaring the
contract of every named dataset (SURVEY.md §1.4) plus loaders for the
driver testdata tables.

At 100 TB scale, explicit schemas are not cosmetic: they skip the
inference pass (a full extra scan for CSV/JSON), enable nested-schema
pruning, and pin decimal/timestamp semantics across engines.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions safe to broadcast at any scale factor: their
# cardinality is FIXED (region=5, nation=25). customer/supplier/part
# grow linearly with SF and must NOT be force-broadcast — at the
# 100-TB target they are tens of GB; size-based planning / AQE
# decides their join strategy.
BROADCASTABLE_TABLES = frozenset({"region", "nation"})

# Optional per-session table cache for the driver's correctness sweep:
# it runs ~90 queries back-to-back on the same tiny (sf≤0.01) tables,
# so re-scanning parquet per query is pure fixed cost. OFF by default
# (tests assert parquet-scan plan shapes like PushedFilters; bench
# keeps scans honest); __spark_entry__ turns it on for the driver.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_TABLE_CACHE_ENABLED = False


def enable_table_cache(enabled: bool = True) -> None:
    """Cache load_table results per (session, sf_dir, table).

    Only sane for small scale factors (the cached frames pin memory);
    the driver's sf0.01 correctness sweep is the intended user.
    Disabling unpersists live cached frames and clears the map.
    """
    global _TABLE_CACHE_ENABLED
    _TABLE_CACHE_ENABLED = enabled
    if not enabled:
        for df in _TABLE_CACHE.values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session may already be gone
                pass
        _TABLE_CACHE.clear()


def _parquet_ts_is_nanos(path: str) -> bool:
    """Footer probe: does this parquet dataset's `ts` field use the
    TIMESTAMP(NANOS) physical type Spark can only scan with the
    legacy nanosAsLong flag?

    ``path`` may be a single file OR a directory-shaped dataset (a
    Spark-written events.parquet/): read_schema only handles the
    former, so a directory probes the footer of its first data file —
    returning False for a legacy NANOS directory would silently break
    the scan the flag exists to fix. The walk descends partition
    subdirectories too (p=.../part-*.parquet at any depth): a
    Hive-partitioned dataset has NO top-level data files, so the
    old one-level listing matched nothing and silently returned
    False — exactly the failure this probe exists to prevent."""
    try:
        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            probe = None
            for root, dirs, files in os.walk(path):
                # deterministic first-file choice; skip _SUCCESS/.crc
                dirs[:] = sorted(
                    d for d in dirs if not d.startswith((".", "_"))
                )
                parts = sorted(
                    f
                    for f in files
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                )
                if parts:
                    probe = os.path.join(root, parts[0])
                    break
            if probe is None:
                return False
        return "ns" in str(pq.read_schema(probe).field("ts").type)
    except Exception:  # noqa: BLE001 — absent field/file: let Spark decide
        return False


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to session-zoned TimestampType (UTC).

    The driver has shipped `events.parquet` with two different physical
    types across rounds — TIMESTAMP(NANOS) (read as long nanos under
    `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS)
    (read natively as TIMESTAMP_NTZ). Branch on what the scan actually
    produced instead of assuming either, so a future regeneration
    doesn't break the loader again:
      * bigint        → nanos-as-long: floor to micros, build timestamp
      * timestamp_ntz → reinterpret wall-clock as UTC instant (session
                        timezone is pinned to UTC, so the cast is the
                        identity on displayed values and matches
                        DuckDB's naive-timestamp reading)
      * timestamp     → already correct
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # FLOOR to micros, not `div` (truncation toward zero): a
        # pre-epoch nano value like -1500 must floor to -2 µs the way
        # DuckDB reads it, not round up to -1 µs. (ts - pmod) is
        # exact integer arithmetic at any magnitude.
        return df.withColumn(
            "ts",
            F.expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"),
        )
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _freshness(path: str) -> tuple | None:
    """Stat token that changes when a local dataset is rewritten, or
    None when ``path`` cannot be stat'ed (missing, remote URI).

    The root's (st_ino, st_mtime_ns, st_size) catches a single file
    rewritten in place or swapped in by rename (new inode at the same
    mtime); for a directory each first-level child's
    (name, st_mtime_ns, st_size) is folded in, so a file added to,
    removed from or renamed inside ``root/part=x/`` (which moves
    ``part=x``'s mtime but not the root's) changes the token too.
    Deeper changes are not seen: a file rewritten IN PLACE two or more
    levels down moves no first-level stat."""
    try:
        st = os.stat(path)
        token: tuple = (st.st_ino, st.st_mtime_ns, st.st_size)
        if stat.S_ISDIR(st.st_mode):
            children = []
            with os.scandir(path) as entries:
                for e in entries:
                    cst = e.stat()
                    children.append((e.name, cst.st_mtime_ns, cst.st_size))
            token += tuple(sorted(children))
        return token
    except OSError:
        return None


# ---------------------------------------------------------------------------
# Adaptive input rebalance (r16 optimization round, guide §2.5) —
# OPT-IN per call site, and a metadata no-op whenever the input
# already parallelizes.
#
# Parquet is only splittable at ROW-GROUP boundaries: Spark carves a
# file into byte-range splits, but a row group is read entirely by the
# one task whose range contains its midpoint — every other task of the
# scan produces ZERO rows. The driver testdata files are single-row-
# group, so despite the session factory's small maxPartitionBytes the
# ENTIRE map side of every query (tokenize, shingle, 32×xxhash64,
# cosine folds, money arithmetic) ran in ONE task while the other
# cores idled — measured: all 600k lineitem rows land in one
# spark_partition_id at sf0.1, likewise documents/embeddings.
#
# The guide's remedy for unsplittable input (§2.5 "one huge
# unsplittable file … otherwise repartition immediately after the
# read") is a repartition straight after the read. MEASURED (r16
# interleaved A/Bs at sf0.1, `git show 7c6b345:scripts_ab_rebalance.py`):
# a BLANKET rebalance of every table is a +33% LOSS on the headline
# total — the
# exchange (and round-robin's sortBeforeRepartition local sort over
# the full row) costs more than the freed cores buy on scan-light
# queries (q1 +80%, s_bm25 +99%, w_topk +50%). It wins only where
# per-row map work dominates the stage: d_minhash_lsh −20%,
# t_segment_dedup −24% (hash-keyed form). Hence:
#   * call sites OPT IN by passing scan_parallel_key (the winners:
#     heavy text pipelines), everything else keeps the bare scan;
#   * the repartition is HASH-keyed on a provided unique id, not
#     round-robin: no sortBeforeRepartition pass over multi-KB text
#     rows (round-robin measured +30% on t_segment_dedup where the
#     keyed form measured −24%), and deterministic row placement
#     under task retries for free;
#   * the probe fires only when the dataset physically cannot fill
#     the machine: a dataset with >= cores files never reads footers
#     (at real scale the branch exits on the file count, so driver
#     listing stays bounded), and the remaining < cores files must
#     hold < cores TOTAL row groups; tiny inputs
#     (< _REBALANCE_MIN_BYTES, 256 KiB) stay serial — a shuffle would
#     cost more than the scan.
# The partition count is defaultParallelism (NOT a constant), so the
# driver's lower-core scaling runs get proportionally fewer
# partitions. Catalyst pushes filters and column pruning THROUGH
# Repartition (plan-verified: PushedFilters/ReadSchema unchanged below
# the exchange), so scans stay pruned and the exchange carries only
# the columns the query needs. Value-identity across the rebalance is
# pinned by the full oracle sweeps (every query is partitioning-
# independent by construction).
# ---------------------------------------------------------------------------

_REBALANCE_MIN_BYTES = 256 * 1024
_REBALANCE_PROBE_CACHE: dict[tuple, int | None] = {}


def _rebalance_partitions(path: str, cores: int) -> int | None:
    """Partition count to hash-repartition an unsplittable local
    parquet dataset to (the caller supplies the key column), or None
    to leave the scan alone. Metadata-only; result memoized per
    (path, cores, _freshness(path)), so a dataset REWRITTEN
    at the same path (testdata regen, load_table over a mutable store)
    re-probes instead of silently applying a stale decision. The one
    case still missed is _freshness's: a file rewritten in place two
    or more levels down (``root/part=x/data.parquet``) keeps the stale
    entry until a first-level stat changes."""
    key = (path, cores, _freshness(path))
    if key in _REBALANCE_PROBE_CACHE:
        return _REBALANCE_PROBE_CACHE[key]
    result: int | None = None
    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = []
            for root, dirs, fnames in os.walk(path):
                dirs[:] = sorted(
                    d for d in dirs if not d.startswith((".", "_"))
                )
                files += [
                    os.path.join(root, f)
                    for f in sorted(fnames)
                    if f.endswith(".parquet")
                    and not f.startswith((".", "_"))
                ]
                if len(files) >= cores:
                    break
        if 0 < len(files) < cores:
            import pyarrow.parquet as pq

            units = 0
            nbytes = 0
            for f in files:
                units += pq.ParquetFile(f).metadata.num_row_groups
                nbytes += os.path.getsize(f)
                if units >= cores:
                    break
            if units < cores and nbytes >= _REBALANCE_MIN_BYTES:
                result = cores
    except Exception:  # noqa: BLE001 — remote URI / odd footer: let Spark scan as-is
        result = None
    _REBALANCE_PROBE_CACHE[key] = result
    return result


# Session confs that change the StructType parquet inference produces
# for the same files (the events footer probe flips nanosAsLong).
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> ((freshness, inference confs), inferred schema). One entry
# per path: a rewritten dataset replaces its entry, never adds one.
_SCHEMA_MEMO: dict[str, tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once.

    Schema inference is a Spark job over the footers (~70 ms wall per
    load_table on a 4-core host, against ~14 ms with the schema
    given), paid on every read and again by every register_views
    set-up.
    The inferred StructType is memoized per path, keyed on the
    dataset's _freshness token and the session's inference confs, and
    later reads pass it with ``spark.read.schema``. The memo holds a
    schema, never a DataFrame: each call is still a fresh relation
    with fresh attribute ids, so self-joins, plan shapes and pushed
    filters are those of a plain read. Paths that cannot be stat'ed
    (remote URIs) always infer."""
    fresh = _freshness(path)
    if fresh is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _PARQUET_INFERENCE_CONFS)
    key = (fresh, confs)
    hit = _SCHEMA_MEMO.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[path] = (key, df.schema)
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    scan_parallel_key: str | None = None,
) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md).

    `events.ts` physical type varies by testdata generation (nanos vs
    micros); see normalize_event_ts.

    ``scan_parallel_key``: opt-in adaptive rebalance for heavy map-side
    pipelines (see the block comment above _rebalance_partitions).
    When the dataset is physically unsplittable below the core count,
    the frame is hash-repartitioned on this (unique-id) column to
    defaultParallelism; otherwise it is a no-op. Only pass it where an
    interleaved A/B showed a win — the exchange is pure cost on
    scan-light queries.
    """
    # The engine's time semantics are UTC (SURVEY.md §1.2); pin it even
    # when the caller's session was built elsewhere (e.g. the driver).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # applicationId (not id(sc)) keys the cache: a stopped+rebuilt
    # context gets a fresh app id, while a reused CPython address
    # would silently hand back frames bound to the dead JVM context.
    key = (spark.sparkContext.applicationId, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")

    def _with_scan_parallel(frame: DataFrame) -> DataFrame:
        if scan_parallel_key is None:
            return frame
        # applied ABOVE the cache entry: the cache holds the raw scan
        # (shared by every query of the table), the rebalance only
        # shapes this caller's plan
        from pyspark.sql import functions as F

        n_parts = _rebalance_partitions(
            path, spark.sparkContext.defaultParallelism
        )
        if n_parts is None:
            return frame
        return frame.repartition(n_parts, F.col(scan_parallel_key))

    if _TABLE_CACHE_ENABLED and key in _TABLE_CACHE:
        return _with_scan_parallel(_TABLE_CACHE[key])
    if name == "events":
        # Set the legacy-nanos flag ONLY when the footer really is
        # TIMESTAMP(NANOS): setting it unconditionally changed how
        # every later parquet read in the shared session decodes
        # nanos columns (bigint instead of error/timestamp). For a
        # legacy file the flag must stay set for the frame's lifetime
        # (the scan consults it at execution, not at read()).
        if _parquet_ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(_read_parquet(spark, path))
    else:
        df = _read_parquet(spark, path)
    if _TABLE_CACHE_ENABLED:
        df = df.cache()
        _TABLE_CACHE[key] = df
    return _with_scan_parallel(df)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Reference-shaped dataset schemas (SURVEY.md §1.4 / FIXTURES.md §B).
# These are the contracts for the ingestion operators; fixture
# generators under tests/ produce matching data.
# ---------------------------------------------------------------------------

# B1: lab01 transactions — headerless CSV with comma-packed items string
# (lab01/tasks.ipynb:249 column names; items pack from the cell-1 generator).
TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("items", T.StringType(), False),
        T.StructField("category", T.StringType(), False),
    ]
)

# B2: lab02 nested users document (lab02/tasks.ipynb:118-151).
USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField(
            "profile",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("username", T.StringType()),
                    T.StructField("ip", T.StringType()),
                    T.StructField("tz", T.StringType()),
                    T.StructField("locale", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "contact",
            T.StructType(
                [
                    T.StructField("email", T.StringType()),
                    T.StructField("phone", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "preferences",
            T.StructType(
                [
                    T.StructField("lang", T.StringType()),
                    T.StructField("marketing_opt_in", T.BooleanType()),
                    T.StructField("theme", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "devices",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("ua", T.StringType()),
                        T.StructField("os", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)

USERS_DOC_SCHEMA = T.StructType(
    [
        T.StructField("generated_at", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("version", T.StringType()),
                ]
            ),
        ),
        T.StructField("users", T.ArrayType(USERS_SCHEMA)),
    ]
)

# B6: magic_shop raw layer is stringly typed; staging casts
# (stg_customers.sql:3-9, stg_orders.sql:3-10, stg_payments.sql:3-9).
MAGIC_RAW_CUSTOMERS_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("house", T.StringType()),
        T.StructField("signup_date", T.StringType()),
    ]
)
MAGIC_RAW_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("order_ts", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount_galleons", T.StringType()),
    ]
)
MAGIC_RAW_PAYMENTS_SCHEMA = T.StructType(
    [
        T.StructField("payment_id", T.StringType()),
        T.StructField("order_id", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("paid_galleons", T.StringType()),
        T.StructField("paid_at", T.StringType()),
    ]
)

# B7: fuel_sales rich-typed parquet drops (generate_fuel_exports.py:127-151).
FUEL_SALES_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("station_id", T.IntegerType()),
        T.StructField(
            "dock",
            T.StructType(
                [
                    T.StructField("bay", T.ShortType()),
                    T.StructField("level", T.StringType()),
                ]
            ),
        ),
        T.StructField("ship_name", T.StringType()),
        T.StructField("franchise", T.StringType()),
        T.StructField("captain_name", T.StringType()),
        T.StructField("species", T.StringType()),
        T.StructField("fuel_type", T.StringType()),
        T.StructField("fuel_units", T.FloatType()),
        T.StructField("price_per_unit", T.DecimalType(8, 2)),
        T.StructField("total_cost", T.DecimalType(12, 2)),
        T.StructField("services", T.ArrayType(T.StringType())),
        T.StructField("is_emergency", T.BooleanType()),
        T.StructField("visited_at", T.TimestampType()),
        T.StructField("arrival_date", T.DateType()),
        T.StructField("coords_x", T.DoubleType()),
        T.StructField("coords_y", T.DoubleType()),
    ]
)

# B8: lab06 kafka event payload (async_data_gen.py:39-49).
KAFKA_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user", T.StringType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("amount", T.DoubleType(), False),
        T.StructField("ts", T.LongType(), False),
    ]
)

KAFKA_EVENT_AVRO_SCHEMA = """{
  "type": "record",
  "name": "Event",
  "fields": [
    {"name": "user", "type": "string"},
    {"name": "event", "type": "string"},
    {"name": "amount", "type": "double"},
    {"name": "ts", "type": "long"}
  ]
}"""

# B9: revenue_analysis flagship schemas (revenue_analysis/main.ipynb:89-150).
REVENUE_USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("signup_date", T.DateType()),
        T.StructField("plan", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("marketing_opt_in", T.BooleanType()),
    ]
)
REVENUE_ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.IntegerType(), False),
        T.StructField("category", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)
REVENUE_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("user_id", T.IntegerType(), False),
        T.StructField("item_id", T.IntegerType(), False),
        T.StructField(
            "context",
            T.StructType(
                [
                    T.StructField("country", T.StringType()),
                    T.StructField("device", T.StringType()),
                    T.StructField("locale", T.StringType()),
                    T.StructField("session_id", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "props",
            T.StructType(
                [
                    T.StructField("price", T.DoubleType(), True),
                    T.StructField("payment_method", T.StringType(), True),
                    T.StructField("dwell_ms", T.IntegerType(), True),
                ]
            ),
        ),
        T.StructField(
            "exp",
            T.StructType([T.StructField("ab_group", T.StringType())]),
        ),
    ]
)

# Events table `props` JSON payload contract (driver testdata `events`).
EVENT_PROPS_SCHEMA = T.StructType(
    [
        T.StructField("price", T.DoubleType(), True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("dwell_ms", T.IntegerType(), True),
    ]
)

# B11: weather avro micro-fixture (avro_test.ipynb:10-23).
WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType(), False),
        T.StructField("time", T.LongType(), False),
        T.StructField("temp", T.IntegerType(), False),
    ]
)
