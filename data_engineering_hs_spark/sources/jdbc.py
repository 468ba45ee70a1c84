"""JDBC upsert sink: foreachBatch → staging table → MERGE.

The reference's lab05 DAG loads each parquet drop into Postgres with
`INSERT ... ON CONFLICT (transaction_id) DO NOTHING`, batched 1000
rows per executemany (fuel_ingest_dag.py:169-182). The Spark-native
shape of that pattern is:

  foreachBatch(batch) →
      batch.write.jdbc(staging table, overwrite, batchsize=N)
    → one driver-side MERGE from staging into the target keyed on
      the conflict columns (DO NOTHING ⇒ WHEN NOT MATCHED INSERT;
      upsert ⇒ + WHEN MATCHED UPDATE)

The bulk data path stays distributed (every executor writes its
partitions over JDBC); only the constant-size MERGE statement runs on
the driver. That is the standard warehouse pattern — per-row upserts
from executors would serialize on row locks.

Tested against the Derby embedded engine that ships with Spark (the
Hive-metastore dependency), which supports standard MERGE since
10.11; any JDBC URL whose driver jar is on the classpath works the
same way. `sources.upsert.upsert_parquet` remains the no-JDBC
fallback with identical idempotency semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def _q(c: str) -> str:
    """Quote an identifier the way Spark's JDBC writer does (double
    quotes), so driver-side SQL binds to the columns the writer
    created regardless of the backend's unquoted-identifier folding
    (Derby/H2 fold UPPER, PostgreSQL lower)."""
    return '"' + c + '"'


def dialect_for_url(url: str) -> str:
    """Infer the SQL dialect from a JDBC URL. 'postgresql' gets the
    reference's native INSERT ... ON CONFLICT form
    (fuel_ingest_dag.py:169-182); everything else uses ANSI MERGE
    (Derby, H2, SQL Server, Oracle...)."""
    sub = url.split(":", 2)[1].lower() if url.count(":") >= 2 else ""
    return "postgresql" if sub in ("postgresql", "postgres") else "ansi"


def create_target_statements(
    dialect: str, table: str, stage: str, keys: Sequence[str]
) -> list[str]:
    """DDL cloning the staging schema into the (absent) target.

    PostgreSQL's ON CONFLICT needs a unique index on the conflict
    target, so the postgres form also adds the UNIQUE constraint —
    the reference's table has the same PK (001_create_table.sql).
    ANSI MERGE matches on an arbitrary predicate, no index required.
    """
    key_list = ", ".join(_q(k) for k in keys)
    if dialect == "postgresql":
        # Constraint names are plain identifiers: derive from the
        # UNQUALIFIED table part — "public.fuel_sales" would otherwise
        # yield the invalid name public.fuel_sales_upsert_key.
        bare = table.split(".")[-1].strip('"')
        return [
            f"CREATE TABLE {table} (LIKE {stage} INCLUDING ALL)",
            f"ALTER TABLE {table} ADD CONSTRAINT {bare}_upsert_key "
            f"UNIQUE ({key_list})",
        ]
    return [f"CREATE TABLE {table} AS SELECT * FROM {stage} WITH NO DATA"]


def upsert_statements(
    dialect: str,
    table: str,
    stage: str,
    keys: Sequence[str],
    cols: Sequence[str],
    update_on_match: bool = False,
) -> list[str]:
    """The driver-side upsert DML, staged rows → target.

    postgresql: INSERT ... ON CONFLICT (keys) DO NOTHING / DO UPDATE
    SET c = EXCLUDED.c — the exact semantics of the reference DAG's
    batched execute_values load.
    ansi: MERGE INTO ... WHEN [NOT] MATCHED.
    """
    non_keys = [c for c in cols if c not in set(keys)]
    insert_cols = ", ".join(_q(c) for c in cols)
    if dialect == "postgresql":
        key_list = ", ".join(_q(k) for k in keys)
        conflict = "DO NOTHING"
        if update_on_match and non_keys:
            sets = ", ".join(f"{_q(c)} = EXCLUDED.{_q(c)}" for c in non_keys)
            conflict = f"DO UPDATE SET {sets}"
        return [
            f"INSERT INTO {table} ({insert_cols}) "
            f"SELECT {insert_cols} FROM {stage} "
            f"ON CONFLICT ({key_list}) {conflict}"
        ]
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
    insert_vals = ", ".join(f"s.{_q(c)}" for c in cols)
    if update_on_match and non_keys:
        sets = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_keys)
        return [
            f"MERGE INTO {table} t USING {stage} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
        ]
    return [
        f"MERGE INTO {table} t USING {stage} s ON {on} "
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    ]


def _execute_driver_sql(
    spark: SparkSession, url: str, statements: Sequence[str], conn=None
) -> None:
    """Run DDL/DML on the driver through java.sql.DriverManager.
    Pass `conn` to reuse a connection (per-batch callers open one and
    thread it through instead of paying setup per statement group)."""
    own = conn is None
    if own:
        conn = spark._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()
    finally:
        if own:
            conn.close()


def _table_exists(spark: SparkSession, url: str, table: str, conn=None) -> bool:
    own = conn is None
    if own:
        conn = spark._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        # getTables takes the SCHEMA as its own argument, and `_`/`%`
        # in the name pattern are wildcards — so split a qualified
        # name, then post-filter the result set for an EXACT match
        # (an underscore name like fuel_sales would otherwise match
        # fuelXsales). Unquoted identifiers fold per backend
        # (Derby/H2 UPPER, PostgreSQL lower) — compare case-folded.
        schema, _, bare = table.rpartition(".")
        meta = conn.getMetaData()
        # schemaPattern=None (not the raw schema string): pattern
        # matching is case-sensitive, so a lowercase caller schema
        # would miss Derby's upper-folded catalog — fold in Python
        rs = meta.getTables(None, None, "%", None)
        try:
            while rs.next():
                got_schema = rs.getString("TABLE_SCHEM") or ""
                got_name = rs.getString("TABLE_NAME") or ""
                if got_name.lower() == bare.lower() and (
                    not schema or got_schema.lower() == schema.lower()
                ):
                    return True
        finally:
            rs.close()
        return False
    finally:
        if own:
            conn.close()


def jdbc_upsert_batch(
    batch: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    update_on_match: bool = False,
    staging_table: str | None = None,
    batch_size: int = 1000,
    string_type: str = "VARCHAR(4096)",
    dialect: str | None = None,
) -> None:
    """Upsert one (micro)batch into a JDBC table.

    insert-if-absent by default (the reference's ON CONFLICT DO
    NOTHING); update_on_match=True also updates non-key columns
    (full upsert). Batch rows are deduped on the keys first so the
    upsert source is conflict-free — dropDuplicates keeps an
    ARBITRARY row per key, which is immaterial for DO NOTHING but
    means update_on_match with intra-batch key conflicts applies an
    unspecified one of them; pre-reduce the batch (e.g. max by a
    sequence column, as streaming_cdc_apply does with seq_col) when
    the winner matters. `string_type` is the SQL type
    string columns are created as (Derby can't MERGE-compare the
    CLOBs Spark maps strings to); widen it for long text payloads —
    a value longer than the cap fails the staging write loudly.
    `dialect` overrides URL-based detection (see dialect_for_url);
    PostgreSQL gets native INSERT ... ON CONFLICT, others ANSI MERGE.
    """
    spark = batch.sparkSession
    stage = staging_table or f"{table}_stage"
    dialect = dialect or dialect_for_url(url)
    deduped = batch.dropDuplicates(list(keys))
    writer = (
        deduped.write.format("jdbc")
        .option("url", url)
        .option("dbtable", stage)
        .option("batchsize", str(batch_size))
        .option("truncate", "true")
        .mode("overwrite")
    )
    # Spark's Derby dialect maps StringType to CLOB, which Derby can't
    # compare in a MERGE join; force VARCHAR for string columns so the
    # key equality binds (harmless for other backends' dialects).
    string_cols = [f.name for f in deduped.schema.fields if f.dataType.typeName() == "string"]
    if string_cols:
        writer = writer.option(
            "createTableColumnTypes",
            ", ".join(f"{c} {string_type}" for c in string_cols),
        )
    writer.save()
    # one driver connection for the whole exists-check + DDL + MERGE
    # sequence — per-batch connection churn dominates small frequent
    # streaming batches against remote databases
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)  # noqa: SLF001
    try:
        if not _table_exists(spark, url, table, conn=conn):
            _execute_driver_sql(
                spark,
                url,
                create_target_statements(dialect, table, stage, keys),
                conn=conn,
            )
        # Spark's JDBC writer emits column names QUOTED (so Derby
        # stores them case-sensitive lowercase) but table names
        # unquoted; the driver-side SQL (_q) matches that convention.
        _execute_driver_sql(
            spark,
            url,
            upsert_statements(
                dialect, table, stage, keys, deduped.columns, update_on_match
            ),
            conn=conn,
        )
    finally:
        conn.close()


def foreach_batch_jdbc_upsert(
    stream: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    update_on_match: bool = False,
    batch_size: int = 1000,
    available_now: bool = True,
    string_type: str = "VARCHAR(4096)",
    dialect: str | None = None,
) -> StreamingQuery:
    """Streaming ingest → JDBC upsert, idempotent under batch replay.

    foreachBatch + checkpoint gives at-least-once batch delivery; the
    keyed MERGE makes redelivery a no-op, which upgrades the sink to
    effectively-exactly-once — the same contract the reference's DAG
    gets from ON CONFLICT DO NOTHING plus its filename watermark.
    """
    from data_engineering_hs_spark.streaming.pipelines import _start

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        jdbc_upsert_batch(
            batch,
            url,
            table,
            keys,
            update_on_match=update_on_match,
            batch_size=batch_size,
            string_type=string_type,
            dialect=dialect,
        )

    return _start(stream, checkpoint_dir, write_batch, available_now)


def read_jdbc_table(spark: SparkSession, url: str, table: str) -> DataFrame:
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
