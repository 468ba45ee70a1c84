"""Pre-swap concurrent-writer tripwire (r13, verdict item): the
swap family (compact_ingest_store, streaming_cdc_apply's merge)
documents 'never concurrent with an active writer', but before this
check a batch committed between the staging read and the rename
SILENTLY VANISHED in the swap. Each test injects a commit into the
exact race window via the sources.parquet._pre_swap_test_hook (or,
for the post-park check, _post_check_test_hook) seam and asserts:
loud RuntimeError, live store untouched (interloper's data included),
no staged-tmp or .__old debris left behind."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import types as T

from data_engineering_hs_spark.sources import parquet as pq_mod

_DOCS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _inject_copy_of_existing_file(store: str) -> None:
    """Simulate a concurrent commit: drop one more data file into the
    store (a copy of an existing part file under a new name — exactly
    what a foreachBatch append produces, modulo content)."""
    files = [
        f
        for f in glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith(("_", "."))
    ]
    src = files[0]
    dst = os.path.join(os.path.dirname(src), "part-interloper.parquet")
    shutil.copyfile(src, dst)


@pytest.fixture
def hook():
    """Arm the test seam, always disarm after."""
    def arm(fn):
        pq_mod._pre_swap_test_hook = fn

    yield arm
    pq_mod._pre_swap_test_hook = None


def _no_debris(store: str) -> bool:
    norm = store.rstrip("/")
    return not any(
        os.path.exists(norm + s) for s in (".__compact", ".__merge", ".__old")
    )


class TestSwapTripwire:
    def test_streaming_cdc_apply_aborts_and_preserves_commit(
        self, spark, tmp_path, hook
    ):
        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        schema = "k long, v string, op string"
        table = str(tmp_path / "tbl")
        src = str(tmp_path / "changes")
        spark.range(100).selectExpr("id AS k", "'v' AS v").repartition(
            4
        ).write.parquet(table)
        spark.createDataFrame([(1, "x", "update")], schema).write.parquet(src)

        def run(ckpt):
            q = streaming_cdc_apply(
                spark.readStream.schema(schema).parquet(src),
                table, str(tmp_path / ckpt), keys=["k"],
            )
            assert q.awaitTermination(300), "stream drain timed out"

        hook(_inject_copy_of_existing_file)
        with pytest.raises(Exception, match="concurrent writer"):
            run("ckpt")
        # live table intact INCLUDING the interloper's file; no debris
        assert spark.read.parquet(table).count() > 100
        assert _no_debris(table)
        # disarmed, the same merge applies
        pq_mod._pre_swap_test_hook = None
        run("ckpt2")
        assert spark.read.parquet(table).filter("k = 1 AND v = 'x'").count() >= 1
        assert _no_debris(table)

    def test_compact_ingest_store_aborts_on_mid_compaction_batch(
        self, spark, tmp_path, hook
    ):
        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
            compact_ingest_store,
        )

        store = str(tmp_path / "fp")
        sink = str(tmp_path / "corpus")
        mk = lambda rows: spark.createDataFrame(rows, _DOCS)
        _dedup_ingest_batch(mk([(1, "alpha")]), 0, store, sink, "text", "doc_id")
        _dedup_ingest_batch(mk([(2, "beta")]), 1, store, sink, "text", "doc_id")
        _dedup_ingest_batch(mk([(3, "gamma")]), 0, store, sink, "text", "doc_id", run_ns="other")
        pre = sorted(r.fingerprint for r in spark.read.parquet(store).collect())

        # a trigger commits batch 2 inside the race window
        def commit_batch(path):
            _dedup_ingest_batch(
                mk([(4, "delta")]), 2, store, sink, "text", "doc_id"
            )

        hook(commit_batch)
        with pytest.raises(RuntimeError, match="concurrent writer"):
            compact_ingest_store(spark, store)
        # the mid-compaction batch's fingerprint is alive, store intact
        post = sorted(r.fingerprint for r in spark.read.parquet(store).collect())
        assert len(post) == len(pre) + 1 and set(pre) <= set(post)
        assert _no_debris(store)
        # disarmed, the compaction succeeds on the (now larger) store
        pq_mod._pre_swap_test_hook = None
        st = compact_ingest_store(spark, store)
        assert st["partitions_after"] < st["partitions_before"]
        final = sorted(r.fingerprint for r in spark.read.parquet(store).collect())
        assert final == post

    def test_post_park_verification_rolls_back_late_commit(
        self, spark, tmp_path
    ):
        # r14 (ADVICE): the pre-swap check NARROWS the race but a
        # commit between check_no_concurrent_writer and the park
        # rename still vanished. swap_in(staged=...) re-verifies the
        # parked file set AFTER the rename freezes the store; this
        # injects a commit into exactly that residual window via the
        # _post_check_test_hook seam and asserts the swap rolls back
        # with the late batch alive.
        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
            compact_ingest_store,
        )

        store = str(tmp_path / "fp")
        sink = str(tmp_path / "corpus")
        for b in range(3):
            _dedup_ingest_batch(
                spark.createDataFrame([(b, f"doc {b}")], _DOCS),
                b, store, sink, "text", "doc_id",
            )
        n0 = spark.read.parquet(store).count()

        pq_mod._post_check_test_hook = _inject_copy_of_existing_file
        try:
            with pytest.raises(RuntimeError, match="Rolled back"):
                compact_ingest_store(spark, store)
        finally:
            pq_mod._post_check_test_hook = None
        # live store restored INCLUDING the late commit; no debris
        assert spark.read.parquet(store).count() == n0 + 1
        assert _no_debris(store)
        # disarmed, the same compaction succeeds and keeps every row
        st = compact_ingest_store(spark, store)
        assert st["partitions_after"] < st["partitions_before"]
        assert spark.read.parquet(store).count() == n0 + 1
