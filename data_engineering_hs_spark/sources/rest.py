"""Rate-limited, retrying REST API source (SURVEY.md §2.1 S24-S25).

The reference fetches /item/{id} under an 18 rps client limit with
retry on timeout / 429 (honoring Retry-After) / 5xx, giving up after
3 attempts (orders_server-0.1.0/src/client_async.py:89-131; threaded
variant client_threads.py:73-118).

Engine shape: a DataFrame of ids → mapInPandas(fetch_partition) with
a per-task token-bucket limiter. The transport is injectable (any
callable url -> (status, headers, body)), so tests replay canned
429/5xx sequences without a server, and production swaps in a real
HTTP client. Distribution: repartition the id list to bound global
rps ≈ per_task_rps × num_tasks.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# transport: url -> (status_code, headers, body_text)
Transport = Callable[[str], tuple[int, dict, str]]

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("body", T.StringType(), True),
    ]
)


class TokenBucket:
    """Per-task rate limiter (client_async.py:45 AsyncLimiter analog)."""

    def __init__(self, rps: float):
        self.min_interval = 1.0 / rps if rps > 0 else 0.0
        self.next_ok = 0.0

    def acquire(self) -> None:
        now = time.monotonic()
        if now < self.next_ok:
            time.sleep(self.next_ok - now)
        self.next_ok = max(now, self.next_ok) + self.min_interval


def fetch_with_retry(
    url: str,
    transport: Transport,
    max_attempts: int = 3,
    backoff_base: float = 0.1,
) -> tuple[int, int, str | None]:
    """(status, attempts, body) with the reference's retry policy:
    retry 429 honoring Retry-After, retry 5xx/timeouts with
    exponential backoff, give up after max_attempts
    (client_async.py:103-131)."""
    last_status = -1
    for attempt in range(1, max_attempts + 1):
        try:
            status, headers, body = transport(url)
        except Exception:
            status, headers, body = -1, {}, None
        last_status = status
        if 200 <= status < 300:
            return status, attempt, body
        if status == 429:
            # RFC 7231 allows Retry-After as either delta-seconds or
            # an HTTP-date; a date, garbage, or a negative/non-finite
            # number (time.sleep raises on -1, nan and inf) must fall
            # back to the backoff, not raise out of the task mid-fetch
            try:
                retry_after = float(headers.get("Retry-After", backoff_base))
            except (TypeError, ValueError):
                retry_after = math.nan
            if not 0 <= retry_after < math.inf:
                retry_after = backoff_base * (2 ** (attempt - 1))
            if attempt < max_attempts:
                time.sleep(retry_after)
            continue
        if status >= 500 or status == -1:
            if attempt < max_attempts:
                time.sleep(backoff_base * (2 ** (attempt - 1)))
            continue
        return status, attempt, body  # 4xx other than 429: no retry
    return last_status, max_attempts, None


def fetch_ids(
    ids_df: DataFrame,
    url_template: str,
    transport: Transport,
    rps_per_task: float = 18.0,
    max_attempts: int = 3,
    num_tasks: int | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Distributed fetch: ids DF → (id, status, attempts, body).

    Each task runs its own TokenBucket, so global rate ≈
    rps_per_task × tasks — set num_tasks to respect a server-side
    limit (reference: 18 rps client vs 20 rps server)."""
    # try_cast, not cast: under ANSI (the Spark 4 default) a bad id
    # string would throw mid-job; non-ANSI cast nulls it and the NULL
    # reaches pandas as NaN, where int(NaN) kills the task after
    # burning rate-limited requests. try_cast + drop handles both.
    src = ids_df.select(
        F.col(id_col).try_cast("long").alias("id")
    ).filter(F.col("id").isNotNull())
    if num_tasks:
        src = src.repartition(num_tasks)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        bucket = TokenBucket(rps_per_task)
        for pdf in batches:
            rows = []
            for _id in pdf["id"]:
                bucket.acquire()
                status, attempts, body = fetch_with_retry(
                    url_template.format(id=int(_id)), transport, max_attempts
                )
                rows.append(
                    {
                        "id": int(_id),
                        "status": status,
                        "attempts": attempts,
                        "body": body,
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "status", "attempts", "body"])

    return src.mapInPandas(run, schema=FETCH_RESULT_SCHEMA)


ORDER_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("account_id", T.LongType()),
        T.StructField("company", T.StringType()),
        T.StructField("contact_email", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("subtotal", T.DoubleType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("created_at", T.StringType()),
    ]
)


def flatten_orders(fetched: DataFrame) -> DataFrame:
    """S25: project 9 scalar fields from the nested order JSON body
    (client_async.py:32-42 column list), JVM-side via from_json."""
    body_schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("account_id", T.LongType()),
            T.StructField("company", T.StringType()),
            T.StructField(
                "contact", T.StructType([T.StructField("email", T.StringType())])
            ),
            T.StructField("status", T.StringType()),
            T.StructField("currency", T.StringType()),
            T.StructField("subtotal", T.DoubleType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("created_at", T.StringType()),
            # PERMISSIVE-mode catch-all: from_json parks the raw body
            # here when it cannot parse, instead of silently emitting
            # a struct whose every field is null
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = (
        fetched.filter((F.col("status") >= 200) & (F.col("status") < 300))
        .withColumn(
            "o",
            F.from_json(
                "body",
                body_schema,
                {"columnNameOfCorruptRecord": "_corrupt"},
            ),
        )
        # a malformed 2xx body (truncated JSON, HTML error page)
        # would otherwise become an all-NULL output row
        # indistinguishable from real data — drop it rather than
        # poison downstream joins
        .filter(F.col("o").isNotNull() & F.col("o._corrupt").isNull())
    )
    return parsed.select(
        F.col("o.order_id").alias("order_id"),
        F.col("o.account_id").alias("account_id"),
        F.col("o.company").alias("company"),
        F.col("o.contact.email").alias("contact_email"),
        F.col("o.status").alias("status"),
        F.col("o.currency").alias("currency"),
        F.col("o.subtotal").alias("subtotal"),
        F.col("o.total").alias("total"),
        F.col("o.created_at").alias("created_at"),
    )
