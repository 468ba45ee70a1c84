"""SparkSession factory.

The reference builds sessions ad hoc per notebook
(revenue_analysis/main.ipynb cell 6cbdb7fa: local[8] + Arrow;
mini-lab-hdfs+spark-local/spark.ipynb:40: Arrow). This engine
centralizes one factory with scale-ready defaults:

- UTC session timezone (reference pins UTC everywhere:
  generate_fuel_exports.py uses tz="UTC" timestamps; lab02 logs are
  +0000) so time-of-day predicates are deterministic.
- Arrow on for any pandas interchange (vectorized Pandas UDFs).
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion — the scale path for
  the skewed keys the reference intentionally generates
  (revenue_analysis/generate_data_json.py:62-64 skewed countries).
- shuffle.partitions default sized for local test runs; on a real
  cluster AQE coalescing makes a higher initial number safe.
- A codegen cache that holds the working set. Spark keeps the classes
  it generates and compiles in one JVM-global LRU of
  ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. One
  warm round of the five headline queries compiles 128-130 classes,
  and a 128-class cycle through a 100-entry LRU evicts each class
  just before its next use: every lookup misses, so every round
  recompiles (Janino), reloads and re-JITs all of them. 2048 holds
  that working set with headroom; peak RSS of the headline benchmark
  stayed within run-to-run noise. The setting is a static conf read
  once, when the JVM's first session builds the cache: it takes
  effect only when get_spark starts that session. A session that
  already exists (e.g. a caller's plain SparkSession, which
  getOrCreate returns) keeps its 100.
- No per-call origin capture. PySpark 4 wraps every DataFrame and
  Column API call in ``pyspark.errors.utils._with_origin``: a
  ``getActiveSession``, a conf read, ``PySparkCurrentOrigin.set`` and
  ``clear`` on the JVM and a Python stack walk, so ``F.col("x")``
  alone costs 13 py4j round trips and ``.alias()`` on it 11 more.
  Building the five headline queries without running them sent 5,387
  py4j commands (d_minhash_lsh 2,638 of them). With
  ``spark.python.sql.dataFrameDebugging.enabled=false``, the switch
  PySpark provides to cut that cost, each call is one round trip.
  What an error loses: exception classes and messages are unchanged,
  and a runtime error's DataFrame context still names the operation
  (``"divide" was called from …``), but no longer the Python
  ``file:line``. Restore it with ``extra_conf={
  "spark.python.sql.dataFrameDebugging.enabled": "true"}``. PySpark
  caches the flag on its first use in the process, so, as with the
  codegen cache, it takes effect only when get_spark builds the
  process's first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "data_engineering_hs_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, ``master`` is left to spark-submit; locally defaults
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # canChangeCachedPlanOutputPartitioning stays at its DEFAULT
        # (false) — probed both ways in r17 and the "on" setting is a
        # local-only win that breaks the scale design: allowing AQE to
        # re-partition cached-plan output means consumers can no longer
        # statically rely on a cache's key clustering, so the iterative
        # graph loops re-Exchange the persisted EDGE LIST every
        # iteration (plan-verified: Exchange above the e
        # InMemoryTableScan with the flag on, none with it off). On
        # local[32] the flag measured ~10% faster at 1M edges (AQE
        # coalesces the small caches), but at the 100 TB target the
        # per-iteration O(E) re-shuffle dwarfs partition-count
        # overhead. plans/r17/pagerank_iteration_after.txt is captured
        # with the default.
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.codegen.cache.maxEntries": "2048",
        # Nested-schema pruning so struct projections reach the scan
        # (the reference projects 9 of ~15 nested order fields,
        # client_async.py:32-42).
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        # Spill-aware scan sizing, keyed on the master: 128m is right
        # when files dwarf the core count (a cluster run would turn a
        # 1 TB input into ~1M tasks at 1m splits); at local test SFs a
        # single 11 MB parquet would scan as ONE task while 31 cores
        # idle, so LOCAL masters split small files across the machine.
        "spark.sql.files.maxPartitionBytes": (
            "1m" if master.startswith("local") else "128m"
        ),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
