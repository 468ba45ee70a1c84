"""Compile once, infer once.

A warm pass over the headline queries must hit Spark's codegen cache
instead of recompiling every generated class (session.get_spark sizes
``spark.sql.codegen.cache.maxEntries`` above the working set), and
catalog.load_table must infer a table's parquet schema once, not run a
footer-reading Spark job on every read (catalog._read_parquet).
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineering_hs_spark.catalog import enable_table_cache, load_table
from data_engineering_hs_spark.queries import REGISTRY, load_all

from conftest import SF0001

# The benchmark's headline workload (perfbench/workloads.py).
HEADLINE_QUERIES = (
    "d_minhash_lsh",
    "q1_pricing_summary",
    "q5_region_volume",
    "s_bm25_topk",
    "s_cosine_topk_arrow",
)


@pytest.fixture(autouse=True)
def _raw_scans():
    # the schema memo sits below catalog's optional table cache, which
    # would hand back one cached frame per table: force it off
    # regardless of test ordering
    enable_table_cache(False)
    yield


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _headline_pass(spark) -> None:
    for name in HEADLINE_QUERIES:
        REGISTRY[name].fn(spark, SF0001).toPandas()


def test_warm_headline_pass_compiles_nothing(spark):
    load_all()
    _headline_pass(spark)
    first = _compiles(spark)
    _headline_pass(spark)
    recompiled = _compiles(spark) - first
    # a 100-entry cache recompiles all ~128 classes of the pass
    assert recompiled <= 5, f"warm pass compiled {recompiled} classes"


def _jobs_started(spark, fn, group: str) -> tuple[object, int]:
    """Run fn() under a job group; return its result and the number of
    Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def test_second_load_table_starts_no_job(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), {"a": [1, 2, 3]})
    d = str(tmp_path)
    first, cold_jobs = _jobs_started(
        spark, lambda: load_table(spark, d, "t"), "schema-memo-cold"
    )
    second, warm_jobs = _jobs_started(
        spark, lambda: load_table(spark, d, "t"), "schema-memo-warm"
    )
    assert cold_jobs >= 1  # inference is a job: the probe can see it
    assert warm_jobs == 0
    assert second.schema == first.schema
    assert sorted(r.a for r in second.collect()) == [1, 2, 3]


def test_rewritten_file_with_added_column_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, {"a": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, {"a": [1, 2], "b": ["x", "y"]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), {"b": pa.array([b"x"], pa.binary())})
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
        spark.conf.set(conf, "true")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "string")]
    finally:
        spark.conf.set(conf, before)


def test_self_join_of_two_loads_matches_duckdb(spark):
    a = load_table(spark, SF0001, "nation")
    b = load_table(spark, SF0001, "nation")
    # two loads are two relations with their own attribute ids; one
    # shared relation would resolve b's columns to a's side
    got = sorted(
        tuple(r)
        for r in a.join(b, a["n_regionkey"] == b["n_regionkey"])
        .select(a["n_nationkey"], b["n_nationkey"])
        .collect()
    )
    path = os.path.join(SF0001, "nation.parquet")
    want = duckdb.sql(
        f"SELECT a.n_nationkey, b.n_nationkey FROM '{path}' a "
        f"JOIN '{path}' b ON a.n_regionkey = b.n_regionkey"
    ).fetchall()
    assert len(got) == len(want)
    assert got == sorted(want)
