"""Long replay-chain torture for the streaming-dedup-ingest state
machine (r14 lens, from the r15 candidate queue). Existing tests
drive 2-4 batches with one compaction; this runs a long sequence of
multi-run batches, same-batch replays, compactions and a
wiped-checkpoint attack, mirrored step by step against a plain
Python dedup (normalized text, lowest-id-wins) — the invariant being
that NO interleaving of maintenance operations changes the survivor
set or readmits a previously-seen document.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T2


def _norm(text):
    # functions.text.normalized_text mirror: collapse \s+ runs, then
    # trim ASCII spaces, lowercase (ASCII corpus here)
    return re.sub(r"\s+", " ", text.lower()).strip(" ")


class PyMirror:
    """Driver-side truth: the survivor set the pipeline must match."""

    def __init__(self):
        self.seen = set()  # normalized texts with committed fingerprints
        self.sink = []  # (doc_id, text) survivors in commit order

    def batch(self, rows):
        batch_first = {}
        for doc_id, text in sorted(rows):
            n = _norm(text)
            if n not in self.seen and n not in batch_first:
                batch_first[n] = (doc_id, text)
        for n, row in batch_first.items():
            self.seen.add(n)
            self.sink.append(row)


class TestReplayTorture:
    def test_twelve_step_interleaved_lifecycle(self, spark, tmp_path):
        from data_engineering_hs_spark.streaming.pipelines import (
            _dedup_ingest_batch,
            compact_ingest_store,
        )

        schema = T2.StructType(
            [
                T2.StructField("doc_id", T2.LongType()),
                T2.StructField("text", T2.StringType()),
            ]
        )
        store, sink = str(tmp_path / "fp"), str(tmp_path / "corpus")
        mk = lambda rows: spark.createDataFrame(rows, schema)
        mirror = PyMirror()

        def ingest(rows, batch_id, run):
            _dedup_ingest_batch(
                mk(rows), batch_id, store, sink, "text", "doc_id",
                run_ns=run,
            )

        def ingest_and_mirror(rows, batch_id, run):
            ingest(rows, batch_id, run)
            mirror.batch(rows)

        # run A: three batches, internal dups and cross-batch dups
        ingest_and_mirror([(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")], 0, "runA")
        ingest_and_mirror([(4, "gamma doc"), (5, "beta doc")], 1, "runA")
        ingest_and_mirror([(6, "delta doc")], 2, "runA")

        # maintenance mid-stream (between triggers)
        compact_ingest_store(spark, store)
        compact_ingest_store(spark, sink)

        # run B: overlaps run A's content — cross-run dedup must hold
        ingest_and_mirror([(7, "alpha doc"), (8, "epsilon doc")], 0, "runB")
        ingest_and_mirror([(9, "zeta doc"), (10, "DELTA   doc")], 1, "runB")

        # REPLAY of run B batch 1 (same content, same id): replay-
        # independence — no mirror call, nothing may change
        ingest([(9, "zeta doc"), (10, "DELTA   doc")], 1, "runB")

        # second compaction: folds run B's batch 0 beside run A's
        # consolidated batches
        compact_ingest_store(spark, store)
        compact_ingest_store(spark, sink)

        # a doc whose fingerprint was compacted with run A must still
        # dedup
        ingest_and_mirror([(11, "gamma doc"), (12, "eta doc")], 2, "runB")

        # third compaction, after the post-compaction batch
        compact_ingest_store(spark, store)

        # wiped-checkpoint attack: run B restarting at batch 0 after
        # committing batch 2 must be REFUSED
        with pytest.raises(RuntimeError, match="wiped in place"):
            ingest([(13, "theta doc")], 0, "runB")

        # final state: sink == mirror survivors, store == mirror seen
        got_sink = {
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(sink).select("doc_id", "text").collect()
        }
        assert got_sink == set(mirror.sink)
        n_fp = spark.read.parquet(store).select("fingerprint").distinct().count()
        assert n_fp == len(mirror.seen)

        # the refused wiped-checkpoint batch must not have leaked rows
        assert (13, "theta doc") not in got_sink
