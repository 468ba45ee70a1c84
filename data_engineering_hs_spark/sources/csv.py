"""CSV sources/sinks (SURVEY.md §2.1 S1-S4).

The reference's lab01 scans 50k headerless small CSVs with a pandas
loop + concat (47.7 s for ~1 GB, lab01/tasks.ipynb cell 22526b98) and
re-reads gzip variants with DictReader. In Spark all of those are one
declarative read: the glob handles the union, the schema skips
inference, and gzip decodes transparently — Catalyst parallelizes by
file/split, so 50k files become one job, not 50k loop iterations.

Scale note (many-small-files): at 100 TB the failure mode is driver
file-listing and per-file task overhead. The mitigation built in
here: pass a directory (not an expanded glob list) so listing is
distributed (spark.sql.sources.parallelPartitionDiscovery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_headerless(
    spark: SparkSession, path: str, schema: T.StructType, tz: str = "UTC"
) -> DataFrame:
    """S1/S3: glob of headerless CSVs (plain or .gz) with supplied
    column names — `spark.read.schema(s).csv(dir/*.csv)` replaces the
    read_csv loop + pd.concat (lab01/tasks.ipynb:249,409).

    tz: zone used to interpret NAIVE timestamp strings (the per-read
    `timeZone` option). Defaults to the engine's UTC contract so a
    caller session with a foreign spark.sql.session.timeZone cannot
    silently shift parsed instants; override for genuinely local-time
    files."""
    return (
        spark.read.schema(schema)
        .option("header", False)
        .option("timeZone", tz)
        .csv(path)
    )


def read_with_header(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer: bool = False,
    tz: str = "UTC",
) -> DataFrame:
    """S2/S4: header CSV; explicit schema preferred, inference as the
    demonstrated fallback (mini-lab-hdfs+spark-local/spark.ipynb:205-208
    — which mis-infers elevation_ft; explicit schema is the fix).
    tz: see read_headerless — naive timestamp strings parse as UTC
    instants regardless of the caller session's zone."""
    if schema is None and not infer:
        raise ValueError(
            "read_with_header needs schema= or infer=True — without "
            "either, every column silently reads as string"
        )
    reader = spark.read.option("header", True).option("timeZone", tz)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


CORRUPT_COL = "_corrupt_record"


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    multi_line: bool = False,
    tz: str = "UTC",
) -> tuple[DataFrame, DataFrame]:
    """Malformed-row-safe CSV read → (clean, quarantine) — the CSV
    twin of read_jsonl(keep_corrupt=True) + split (S5/S22 discipline).

    Spark PERMISSIVE repair semantics (pinned cross-engine in
    tests/test_csv_malformed_parity.py): short rows are null-PADDED,
    long rows keep the parsed prefix, a type-failed field nulls ONLY
    that field, and an unclosed quote consumes to end of line — every
    such row lands in the corrupt column with its RAW text and is
    returned in the quarantine frame here, because those repaired
    shapes are NOT what other engines produce (DuckDB drops or
    re-parses them differently; see the lens) and letting them into a
    100-TB pipeline silently ships engine-specific rows. The clean
    frame is the cross-engine-reproducible subset.

    multi_line: set True when quoted fields may contain newlines —
    Spark's default line-splitting mode shreds such rows into
    garbage fragments (both fragments quarantine, but the real row is
    lost; pinned in the lens). NOTE: multiLine disables per-line
    input splitting, so each FILE parses on one task — keep files
    right-sized upstream.

    Do NOT reach for `badRecordsPath`: open-source Spark silently
    ignores the option (no quarantine dir is ever created — pinned in
    the lens); this split is the portable form.

    The parsed frame is `.cache()`d before the split. This is NOT
    optional: Spark refuses any query on a raw CSV scan whose pruned
    read schema is ONLY the internal corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — verified
    live on 4.1.2), and both `clean.count()` and
    `quarantine.count()` — the quarantine contract's own row-counts-
    per-error-class operation — prune to exactly that shape. Caching
    rebases both halves on an InMemoryRelation, which the restriction
    does not apply to; it is ALSO the right scan shape here, since the
    split always consumes both halves and would otherwise re-parse
    the files once per branch. MEMORY_AND_DISK, so a partition that
    doesn't fit spills rather than OOMs; release with
    `spark.catalog.clearCache()` (or let session teardown drop it)
    after both halves are consumed."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", multi_line)
        .option("timeZone", tz)
        .csv(path)
    ).cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, quarantine


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    mode: str = "overwrite",
    tz: str = "UTC",
) -> None:
    """S2: single logical CSV dataset write (one file per partition;
    coalesce(1) only for small exports — a 100 TB export stays
    multi-file). tz: zone used to FORMAT timestamps, symmetric with
    the readers' parse pin so a round-trip through a foreign-tz
    session is lossless."""
    df.write.mode(mode).option("header", header).option("timeZone", tz).csv(
        path
    )
