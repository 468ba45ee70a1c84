"""Single-writer lease on the path-based persistent stores (r16).

The round-open race probe on pre-lease code: two barrier-released
parquet appends of the same 100-row increment to one store left
**197 rows** —
duplicates from the double-commit AND rows LOST outright, because
both jobs share `path/_temporary` and one FileOutputCommitter's
cleanup deletes the other's in-flight task files. Not just growth:
silent data loss. The enforcement is a POSIX flock on a sibling
`<path>.__lease` file (sources.parquet.store_writer_lease) —
kernel-owned, so a crashed writer's lease releases with its process
(no stale-TTL takeover machinery), and it conflicts between two open
descriptions even within one process, so two threads of one driver
serialize the same as two drivers.

Covered here: the lease primitive, every wired mutator (ingest-store
compaction, cell-store build and append, swap recovery) failing
loudly under a held lease with the store untouched, barrier-released
two-writer races ending in a CLEAN state either way,
release-on-completion, release-on-process-death, and the remote-URI
documented-contract degrade.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

import pytest

from data_engineering_hs_spark.sources.parquet import (
    ConcurrentWriterError,
    _lease_file,
    snapshot_data_files,
    store_writer_lease,
)


def _ingest_store(spark, path: str, n_batches: int = 3) -> None:
    """A run-namespaced fingerprint store of n_batches batch
    partitions, written by streaming_dedup_ingest's batch commit."""
    from data_engineering_hs_spark.streaming.pipelines import (
        _dedup_ingest_batch,
    )

    for b in range(n_batches):
        docs = spark.createDataFrame(
            [(b * 10 + i, f"doc {b} {i}") for i in range(5)],
            "doc_id long, text string",
        )
        _dedup_ingest_batch(docs, b, path, path + "_sink", "text", "doc_id")


def _vectors(spark, ids):
    return spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def _centers(spark):
    return spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [8.0, 1.0])],
        "label int, centroid array<double>",
    )


class TestLeasePrimitive:
    def test_second_acquire_raises_with_holder_info(self, tmp_path):
        store = str(tmp_path / "s")
        with store_writer_lease(store, "first-op"):
            with pytest.raises(ConcurrentWriterError, match="first-op"):
                with store_writer_lease(store, "second-op"):
                    pass  # pragma: no cover

    def test_release_on_exit_and_on_error(self, tmp_path):
        store = str(tmp_path / "s")
        with store_writer_lease(store, "op"):
            pass
        with pytest.raises(RuntimeError, match="body"):
            with store_writer_lease(store, "op"):
                raise RuntimeError("body")
        # both exits released the lock
        with store_writer_lease(store, "op"):
            pass

    def test_lease_file_is_a_sibling_not_inside_the_store(
        self, tmp_path
    ):
        # the swap family RENAMES the store directory; a lease inside
        # it would travel with the park rename and leave the live
        # path unguarded mid-swap
        store = str(tmp_path / "s")
        lf = _lease_file(store)
        assert lf == store + ".__lease"
        assert not lf.startswith(store + "/")

    def test_remote_uri_degrades_to_documented_contract(self):
        assert _lease_file("s3a://bucket/store") is None
        # yields without enforcement (and without touching the fs)
        with store_writer_lease("s3a://bucket/store", "op"):
            pass

    def test_released_when_holder_process_dies(self, tmp_path):
        store = str(tmp_path / "s")
        code = (
            "from data_engineering_hs_spark.sources.parquet import "
            "store_writer_lease\n"
            "import os\n"
            f"cm = store_writer_lease({store!r}, 'crashed-op')\n"
            "cm.__enter__()\n"
            "os._exit(1)\n"  # dies holding the lease — no release code runs
        )
        subprocess.run(
            [sys.executable, "-c", code], cwd="/root/repo", check=False
        )
        # kernel released the flock with the dead process
        with store_writer_lease(store, "op"):
            pass


class TestMutatorsFailLoudUnderHeldLease:
    def test_compaction_refused(self, spark, tmp_path):
        from data_engineering_hs_spark.streaming.pipelines import (
            compact_ingest_store,
        )

        store = str(tmp_path / "fp")
        _ingest_store(spark, store)
        before = snapshot_data_files(store)
        with store_writer_lease(store, "other-writer"):
            with pytest.raises(ConcurrentWriterError, match="other-writer"):
                compact_ingest_store(spark, store)
        assert snapshot_data_files(store) == before
        # lease released by the refused attempt's error path too
        out = compact_ingest_store(spark, store)
        assert out["partitions_after"] < out["partitions_before"]
        assert spark.read.parquet(store).count() == 15

    def test_build_cell_store_refused(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.similarity import (
            build_ivf_store,
        )

        store = str(tmp_path / "ivf")
        with store_writer_lease(store, "maintenance"):
            with pytest.raises(ConcurrentWriterError):
                build_ivf_store(_vectors(spark, range(8)), _centers(spark), store)
        assert not os.path.isdir(store)
        build_ivf_store(_vectors(spark, range(8)), _centers(spark), store)
        assert spark.read.parquet(store).count() == 8

    def test_recover_swap_refused(self, spark, tmp_path):
        from data_engineering_hs_spark.sources.parquet import recover_swap

        store = str(tmp_path / "t")
        spark.range(10).write.parquet(store)
        os.makedirs(store + ".__old")  # a finished swap's leftover
        with store_writer_lease(store, "compact_ingest_store"):
            with pytest.raises(ConcurrentWriterError):
                recover_swap(store)
        assert os.path.isdir(store + ".__old")
        assert recover_swap(store) == "intact"
        assert not os.path.exists(store + ".__old")
        assert spark.read.parquet(store).count() == 10

    def test_cell_store_append_refused(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
        )

        centers = _centers(spark)
        store = str(tmp_path / "ivf")
        build_ivf_store(_vectors(spark, range(8)), centers, store)
        inc = _vectors(spark, [100])
        with store_writer_lease(store, "maintenance"):
            with pytest.raises(ConcurrentWriterError):
                append_to_cell_store(inc, centers, store)
        # post-release the append works; content is the clean union
        append_to_cell_store(inc, centers, store)
        got = sorted(
            r[0]
            for r in spark.read.parquet(store).select("vec_id").collect()
        )
        assert got == [*range(8), 100]


def _race(*fns) -> list[str]:
    """Release fns from one barrier on their own threads; each
    outcome is "done" or "refused" (ConcurrentWriterError) — any
    other error fails the test."""
    bar = threading.Barrier(len(fns))
    outcomes: list[str] = [""] * len(fns)

    def run(i, fn):
        bar.wait()
        try:
            fn()
            outcomes[i] = "done"
        except ConcurrentWriterError:
            outcomes[i] = "refused"
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            outcomes[i] = f"error: {e!r}"

    threads = [
        threading.Thread(target=run, args=(i, fn)) for i, fn in enumerate(fns)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive(), "racing writer did not finish"
    assert set(outcomes) <= {"done", "refused"}, outcomes
    return outcomes


class TestTortureRace:
    def test_barrier_released_double_append_ends_clean(
        self, spark, tmp_path
    ):
        """The round-open probe shape, now under enforcement. Two
        threads release from a barrier into append_to_cell_store of
        two increments. Any interleaving must end CLEAN: each append
        either fully committed or was refused with
        ConcurrentWriterError — rows and the corpus stamp both hold
        exactly the committed increments (no duplicates, no lost task
        files, no lost stamp fold)."""
        import json

        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
        )

        centers = _centers(spark)
        store = str(tmp_path / "ivf")
        build_ivf_store(_vectors(spark, range(8)), centers, store)
        incs = [
            _vectors(spark, range(lo, lo + 50)).localCheckpoint(eager=True)
            for lo in (100, 200)
        ]
        outcomes = _race(
            *[lambda inc=inc: append_to_cell_store(inc, centers, store)
              for inc in incs]
        )
        assert "done" in outcomes, outcomes
        want = set(range(8))
        for inc, res in zip(incs, outcomes):
            if res == "done":
                want |= {r[0] for r in inc.select("vec_id").collect()}
        ids = [r[0] for r in spark.read.parquet(store).select("vec_id").collect()]
        assert sorted(ids) == sorted(want), outcomes
        with open(os.path.join(store, "_store_meta.json")) as fh:
            assert json.load(fh)["corpus_n"] == len(want)

    def test_two_compactions_race_ends_clean(self, spark, tmp_path):
        """Two compactions of one ingest store from a barrier: with
        the lease, one fails up front with ConcurrentWriterError (or
        they serialize); either way the store ends with EXACTLY its
        rows — no stranded parked/staging dir, no partial _temporary
        debris counted as data."""
        from data_engineering_hs_spark.streaming.pipelines import (
            compact_ingest_store,
        )

        store = str(tmp_path / "fp")
        _ingest_store(spark, store)
        before = sorted(
            r[0] for r in spark.read.parquet(store).select("fingerprint").collect()
        )
        outcomes = _race(
            lambda: compact_ingest_store(spark, store),
            lambda: compact_ingest_store(spark, store),
        )
        assert "done" in outcomes, outcomes
        after = sorted(
            r[0] for r in spark.read.parquet(store).select("fingerprint").collect()
        )
        assert after == before, outcomes
        leftovers = [
            d
            for d in os.listdir(str(tmp_path))
            if d.startswith("fp.") and not d.endswith(".__lease")
        ]
        assert leftovers == [], leftovers
