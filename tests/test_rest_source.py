"""REST source tests (S24-S25) — injectable transport, no server."""

from __future__ import annotations

import pytest

from data_engineering_hs_spark.sources.rest import (
    TokenBucket,
    fetch_ids,
    fetch_with_retry,
    flatten_orders,
)
from tests.naive_mirrors import make_flaky_transport


def _order(i: int) -> dict:
    return {
        "order_id": i,
        "account_id": 100 + i,
        "company": f"Co{i}",
        "contact": {"name": "N", "email": f"c{i}@x.com", "phone": "1",
                    "country": "US"},
        "status": "paid",
        "currency": "USD",
        "lines": [{"sku": "SKU-AAAA-00001", "name": "w", "qty": 1,
                   "unit_price": 10.0, "amount": 10.0, "usage_month": "2025-01"}],
        "subtotal": 10.0,
        "tax": 0.7,
        "total": 10.7,
        "created_at": "2025-01-01T00:00:00Z",
        "source": "mock",
    }


class TestRetryPolicy:
    def test_retries_429_honoring_retry_after(self):
        t = make_flaky_transport(
            {7: _order(7)}, fail_plan={7: [(429, {"Retry-After": "0"})]}
        )
        status, attempts, body = fetch_with_retry("http://x/item/7", t)
        assert status == 200 and attempts == 2 and body

    def test_retries_5xx_then_succeeds(self):
        t = make_flaky_transport(
            {7: _order(7)}, fail_plan={7: [(500, {}), (503, {})]}
        )
        status, attempts, _ = fetch_with_retry(
            "http://x/item/7", t, backoff_base=0.0
        )
        assert status == 200 and attempts == 3

    def test_gives_up_after_max_attempts(self):
        t = make_flaky_transport(
            {7: _order(7)}, fail_plan={7: [(500, {})] * 5}
        )
        status, attempts, body = fetch_with_retry(
            "http://x/item/7", t, max_attempts=3, backoff_base=0.0
        )
        assert status == 500 and attempts == 3 and body is None

    def test_404_is_terminal_no_retry(self):
        t = make_flaky_transport({})
        status, attempts, _ = fetch_with_retry("http://x/item/1", t)
        assert status == 404 and attempts == 1

    def test_token_bucket_paces(self):
        import time

        b = TokenBucket(rps=1000)
        t0 = time.monotonic()
        for _ in range(5):
            b.acquire()
        assert time.monotonic() - t0 >= 0.004


class TestDistributedFetch:
    def test_fetch_ids_and_flatten(self, spark):
        responses = {i: _order(i) for i in range(1, 11)}
        transport = make_flaky_transport(
            responses, fail_plan={3: [(429, {"Retry-After": "0"})]}
        )
        ids = spark.range(1, 11).withColumnRenamed("id", "id")
        fetched = fetch_ids(
            ids, "http://x/item/{id}", transport,
            rps_per_task=10_000, num_tasks=2,
        )
        rows = {r["id"]: r for r in fetched.collect()}
        assert len(rows) == 10
        assert all(r["status"] == 200 for r in rows.values())
        # NB: the 429-retry happens inside whichever task got id=3;
        # its attempts counter records it (state is per-transport-copy,
        # so with 2 tasks the closure pickles per task — id 3 lands in
        # exactly one).
        flat = flatten_orders(fetched)
        got = {r["order_id"]: r for r in flat.collect()}
        assert got[5]["contact_email"] == "c5@x.com"
        assert got[5]["total"] == pytest.approx(10.7)
        assert set(flat.columns) == {
            "order_id", "account_id", "company", "contact_email",
            "status", "currency", "subtotal", "total", "created_at",
        }


class TestRetryAndInputEdges:
    def test_retry_after_http_date_falls_back_to_backoff(self):
        # RFC 7231 allows an HTTP-date Retry-After; float() on it must
        # not escape the retry loop as a ValueError, and a hostile
        # negative or non-finite delay must not reach time.sleep
        for retry_after in ("Wed, 21 Oct 2026 07:28:00 GMT", "-1", "nan", "inf"):
            t = make_flaky_transport(
                {7: _order(7)},
                fail_plan={7: [(429, {"Retry-After": retry_after})]},
            )
            status, attempts, body = fetch_with_retry(
                "http://x/item/7", t, backoff_base=0.0
            )
            assert status == 200 and attempts == 2 and body, retry_after

    def test_null_and_unparseable_ids_are_dropped(self, spark):
        responses = {1: _order(1), 2: _order(2)}
        t = make_flaky_transport(responses)
        ids = spark.createDataFrame(
            [("1",), (None,), ("nope",), ("2",)], "id string"
        )
        fetched = fetch_ids(ids, "http://x/item/{id}", t, rps_per_task=10_000)
        got = sorted(r["id"] for r in fetched.collect())
        assert got == [1, 2]

    def test_malformed_2xx_body_is_dropped_not_null_row(self, spark):
        rows = [
            (1, 200, 1, '{"order_id": 1, "account_id": 101, '
             '"contact": {"email": "a@x.com"}}'),
            (2, 200, 1, "<html>gateway error that returned 200</html>"),
        ]
        fetched = spark.createDataFrame(
            rows, "id long, status int, attempts int, body string"
        )
        flat = flatten_orders(fetched)
        got = [r["order_id"] for r in flat.collect()]
        assert got == [1]
