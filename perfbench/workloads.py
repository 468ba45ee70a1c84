"""The benchmark's workloads.

Each workload has a ``spec`` for the generator, ``prepare`` for the
expected results it computes before any timed work, and ``run_round``
for one closed-loop round (``check=True`` verifies the round's
outputs outside its timed sections). Operations go through the
engine's public entry points only: registry query functions,
``streaming.pipelines`` and ``sources``/``operators`` functions.
"""

from __future__ import annotations

import collections
import hashlib
import os
import random
import shutil
import time
import traceback

from layers import Tracer, streaming_layers

# Five of the fourteen comparable headline queries: the text and
# vector paths (minhash LSH, BM25, Arrow cosine) and two relational
# shapes (scan-aggregate, multi-way join). All fourteen do not fit the
# run budget: a cold pass over them took 20-55 s on a 4-core host,
# leaving no time for the warm-up and timed rounds.
HEADLINE_QUERIES = [
    "d_minhash_lsh",
    "q1_pricing_summary",
    "q5_region_volume",
    "s_bm25_topk",
    "s_cosine_topk_arrow",
]
# No oracle (d_minhash_lsh) or rank parity only: their values must
# hash the same in every round, checked or not.
HASHED_QUERIES = ("d_minhash_lsh", "s_cosine_topk_arrow")
DRAIN_TIMEOUT_S = 150


class Run:
    """State shared by one benchmark invocation."""

    def __init__(self, spark, data: str, info: dict, seed: int, work: str):
        self.spark = spark
        self.data = data
        self.info = info
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        """Count one attempted operation; any problem fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]


def _value_hash(pdf) -> str:
    from oracle_harness import _canon_df

    return hashlib.sha256(repr(_canon_df(pdf)).encode()).hexdigest()


class Headline:
    """The headline registry queries, each run and collected to the
    driver as pandas, in a seeded order per round. ``rows_per_s`` is
    the rows of all input tables over the round time."""

    spec = {"sf": 0.01, "docs": 500, "vecs": 500}

    def __init__(self, run: Run):
        self.run = run
        self.hashes: dict[str, str] = {}

    @staticmethod
    def wrappers() -> tuple:
        return ()

    def prepare(self) -> None:
        pass

    def _problems(self, name: str, pdf) -> list[str]:
        """The DuckDB oracle comparison of tests/oracle_harness.py,
        applied to an already collected result."""
        from oracle_harness import EMPTINESS_OK, _canon_df, run_oracle

        from data_engineering_hs_spark.queries import REGISTRY

        problems = []
        if len(pdf) == 0 and name not in EMPTINESS_OK:
            problems.append("vacuous: query returns 0 rows")
        oracle = REGISTRY[name].oracle
        if oracle is not None and _canon_df(pdf) != _canon_df(run_oracle(oracle, self.run.data)):
            problems.append("values differ from the DuckDB oracle")
        return problems

    def run_round(self, rnd: int, tracer: Tracer | None, check: bool) -> dict:
        from data_engineering_hs_spark.queries import REGISTRY

        run = self.run
        order = list(HEADLINE_QUERIES)
        random.Random(run.seed * 7919 + rnd).shuffle(order)
        ops: list[float] = []
        layer: collections.Counter = collections.Counter()
        if tracer:
            tracer.start()
        for name in order:
            if tracer:
                tracer.begin()
            t0 = time.perf_counter()
            try:
                df = REGISTRY[name].fn(run.spark, run.data)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
                run.record(f"round {rnd} {name}", [traceback.format_exc(limit=3)])
                continue
            ops.append((t2 - t0) * 1000)
            if tracer:
                op = tracer.end(df)
                layer[f"query.{name}.s"] = t2 - t0
                layer["queries.build_ms"] += (t1 - t0) * 1000
                layer["exec.self_ms"] += (
                    (t2 - t1) * 1000
                    - op["catalyst.optimization_ms"]
                    - op["catalyst.planning_ms"]
                )
            problems = self._problems(name, pdf) if check else []
            if name in HASHED_QUERIES:
                digest = _value_hash(pdf)
                if self.hashes.setdefault(name, digest) != digest:
                    problems.append("values changed between rounds")
            run.record(f"round {rnd} {name}", problems)
        if tracer:
            layer.update(tracer.stop())
        round_s = sum(ops) / 1000
        return {
            "round_s": round_s,
            "ops_ms": ops,
            "rows_per_s": sum(run.info["rows"].values()) / round_s if round_s else 0.0,
            "layers": layer,
        }


class Ingest:
    """Streaming dedup ingest of a resend-heavy drop directory, store
    compaction, then a streaming CDC apply, on fresh directories every
    round. ``rows_per_s`` is the source documents over the dedup
    drain time; the operations are micro-batches."""

    spec = {
        "sf": 0.01,
        "docs": 500,
        "vecs": 100,
        "ingest": {
            "n_files": 4,
            "rows_per_file": 2000,
            "resend": 0.3,
            "n_changesets": 2,
            "change_rows": 2000,
        },
    }
    DOC_FILES_PER_TRIGGER = 2
    CHANGE_FILES_PER_TRIGGER = 1
    KEYS = ["o_orderkey"]

    def __init__(self, run: Run):
        self.run = run
        self.expected_fps: set[int] = set()
        self.expected_cdc: list[tuple] = []

    @staticmethod
    def wrappers() -> tuple:
        return (
            ("data_engineering_hs_spark.sources.parquet", "write_partitioned",
             "sources.write_partitioned_ms", "sources.write_calls"),
            ("data_engineering_hs_spark.sources.parquet", "swap_in",
             "sources.swap_in_ms", None),
            ("data_engineering_hs_spark.operators.dedup", "read_fingerprint_store",
             "operators.dedup.store_read_ms", None),
        )

    def _path(self, name: str) -> str:
        return os.path.join(self.run.data, name)

    def prepare(self) -> None:
        """Expected results, computed in batch: the distinct
        fingerprints of the source, and the CDC table as DuckDB
        computes it (last op per key over the base table)."""
        import duckdb

        from data_engineering_hs_spark.functions.text import fingerprint64

        fps = self.run.spark.read.parquet(self._path("drops")).select(
            fingerprint64("text").alias("fp")
        ).distinct()
        self.expected_fps = {r.fp for r in fps.collect()}
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
        sql = f"""
            WITH last AS (
              SELECT * FROM read_parquet('{self._path("changes")}/*.parquet')
              QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1)
            SELECT {cols} FROM read_parquet('{self._path("cdc_base")}/*.parquet')
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last)
            UNION ALL SELECT {cols} FROM last WHERE op <> 'delete'
            ORDER BY o_orderkey"""
        with duckdb.connect() as con:
            self.expected_cdc = con.execute(sql).fetchall()

    def _verify(self, d: dict) -> tuple[list[str], int]:
        """Check one round's sink, store and CDC table against the
        expected results; returns (problems, sink rows)."""
        import duckdb

        from data_engineering_hs_spark.functions.text import fingerprint64

        spark = self.run.spark
        problems = []
        sink = [
            r.fp for r in spark.read.parquet(d["sink"])
            .select(fingerprint64("text").alias("fp")).collect()
        ]
        if len(sink) != len(set(sink)) or set(sink) != self.expected_fps:
            problems.append(
                f"sink holds {len(sink)} rows, {len(set(sink))} distinct; "
                f"expected {len(self.expected_fps)} distinct fingerprints"
            )
        store = [r.fingerprint for r in spark.read.parquet(d["store"]).select("fingerprint").collect()]
        if len(store) != len(set(store)) or set(store) != self.expected_fps:
            problems.append(
                f"store holds {len(store)} fingerprints, {len(set(store))} distinct"
            )
        with duckdb.connect() as con:
            got = con.execute(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM "
                f"read_parquet('{d['cdc_table']}/*.parquet') ORDER BY o_orderkey"
            ).fetchall()
        if got != self.expected_cdc:
            problems.append(
                f"cdc table has {len(got)} rows, expected {len(self.expected_cdc)}"
            )
        return problems, len(sink)

    def run_round(self, rnd: int, tracer: Tracer | None, check: bool) -> dict:
        from pyspark.sql import types as T

        from data_engineering_hs_spark.streaming.pipelines import (
            _run_namespace,
            compact_ingest_store,
            streaming_cdc_apply,
            streaming_dedup_ingest,
        )

        run = self.run
        spark = run.spark
        base = os.path.join(run.work, f"ingest-{rnd}")
        shutil.rmtree(base, ignore_errors=True)
        d = {k: os.path.join(base, k) for k in
             ("store", "sink", "ckpt", "cdc_table", "cdc_ckpt")}
        # The store's run=<namespace> partition is a hex digest of the
        # checkpoint path. A digest that parses as a number (all
        # digits: about 1 path in 100) is read back as a numeric
        # partition column and compact_ingest_store then fails casting
        # 'compacted'. Keep the benchmark off that engine bug: use a
        # path whose digest holds a, b or c, which no number does.
        while not set("abc") & set(_run_namespace(d["ckpt"])):
            d["ckpt"] += "_"
        shutil.copytree(self._path("cdc_base"), d["cdc_table"])
        doc_schema = T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        )
        change_schema = spark.read.parquet(self._path("changes")).schema
        layer: collections.Counter = collections.Counter()
        if tracer:
            tracer.start()
        try:
            t0 = time.perf_counter()
            if tracer:
                tracer.begin()
            q1 = streaming_dedup_ingest(
                spark.readStream.schema(doc_schema)
                .option("maxFilesPerTrigger", self.DOC_FILES_PER_TRIGGER)
                .parquet(self._path("drops")),
                d["store"], d["sink"], d["ckpt"],
            )
            if not q1.awaitTermination(DRAIN_TIMEOUT_S):
                q1.stop()
                raise RuntimeError("dedup drain timed out")
            t1 = time.perf_counter()
            if tracer:
                tracer.end()
            t_compact = time.perf_counter()
            compact = [compact_ingest_store(spark, d["store"]), compact_ingest_store(spark, d["sink"])]
            t2 = time.perf_counter()
            if tracer:
                tracer.begin()
            q2 = streaming_cdc_apply(
                spark.readStream.schema(change_schema)
                .option("maxFilesPerTrigger", self.CHANGE_FILES_PER_TRIGGER)
                .parquet(self._path("changes")),
                d["cdc_table"], d["cdc_ckpt"], keys=self.KEYS, seq_col="seq",
            )
            if not q2.awaitTermination(DRAIN_TIMEOUT_S):
                q2.stop()
                raise RuntimeError("cdc drain timed out")
            t3 = time.perf_counter()
            if tracer:
                tracer.end()
        except Exception:  # noqa: BLE001 — a failing round is counted, not fatal
            if tracer:
                tracer.stop()
            run.record(f"round {rnd} ingest", [traceback.format_exc(limit=3)])
            return {}
        dedup_batches = [p for p in q1.recentProgress if p.get("numInputRows")]
        cdc_batches = [p for p in q2.recentProgress if p.get("numInputRows")]
        if tracer:
            layer.update(tracer.stop())
            layer.update(streaming_layers(dedup_batches + cdc_batches))
            layer["sources.compact_ms"] = (t2 - t_compact) * 1000
            layer["sources.files_before_compact"] = sum(c["files_before"] for c in compact)
            layer["sources.files_after_compact"] = sum(c["files_after"] for c in compact)
            layer["operators.cdc.merge_batch_ms"] = sum(
                p["durationMs"].get("addBatch", 0) for p in cdc_batches
            )
        problems, survivors = self._verify(d) if check else ([], 0)
        run.record(f"round {rnd} ingest", problems)
        if tracer and check:
            layer["operators.dedup.survivor_ratio"] = survivors / run.info["source_rows"]
        shutil.rmtree(base, ignore_errors=True)
        return {
            "round_s": t3 - t0,
            "ops_ms": [
                p["durationMs"]["triggerExecution"] for p in dedup_batches + cdc_batches
            ],
            "rows_per_s": run.info["source_rows"] / (t1 - t0),
            "layers": layer,
        }


WORKLOADS = {"headline_sf0.01": Headline, "ingest": Ingest}
