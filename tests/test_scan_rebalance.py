"""Adaptive input-rebalance probe (catalog._rebalance_partitions, r16
optimization round): an opt-in, metadata-only repartition for heavy
map pipelines over physically unsplittable parquet (single-row-group
files scan as ONE non-empty task regardless of split count)."""

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_hs_spark.catalog import (
    _rebalance_partitions,
    load_table,
)

SF_DIR = "/root/testdata/sf0.01"

# Pure-probe tests run on SYNTHETIC parquet written with controlled
# row-group counts/sizes (r17 advice follow-up): the old versions
# asserted against /root/testdata physical properties (lineitem
# single-row-group and >= 256 KiB), so a testdata regen with a
# different writer row-group size would flip them with the probe
# itself still correct. The testdata files stay in play only for the
# end-to-end load_table tests at the bottom.


def _write_parquet(path: str, n_rows: int, row_group_rows: int) -> str:
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "id": pa.array(range(n_rows), pa.int64()),
            # ~128B of INCOMPRESSIBLE payload per row (distinct digests)
            # so the on-disk size floor is controllable — a constant
            # pad would dictionary/RLE-compress to nothing
            "pad": pa.array(
                [
                    hashlib.sha512(str(i).encode()).hexdigest()
                    for i in range(n_rows)
                ]
            ),
        }
    )
    pq.write_table(table, path, row_group_size=row_group_rows)
    return path


def test_probe_fires_on_big_single_rowgroup_file(tmp_path):
    # 4k rows x ~128B in ONE row group: >= 256 KiB, cannot fill 8 cores
    p = _write_parquet(str(tmp_path / "one_rg.parquet"), 4000, 4000)
    assert os.path.getsize(p) >= 256 * 1024
    assert _rebalance_partitions(p, 8) == 8


def test_probe_skips_tiny_file(tmp_path):
    # 100 rows — far below the min-bytes floor, a shuffle would cost
    # more than the serial scan
    p = _write_parquet(str(tmp_path / "tiny.parquet"), 100, 100)
    assert os.path.getsize(p) < 256 * 1024
    assert _rebalance_partitions(p, 8) is None


def test_probe_skips_when_row_groups_fill_cores(tmp_path):
    # 8 row groups on 8 cores: parquet already splits to full
    # parallelism, the probe must not add an exchange
    p = _write_parquet(str(tmp_path / "many_rg.parquet"), 4000, 500)
    import pyarrow.parquet as pq

    assert pq.ParquetFile(p).metadata.num_row_groups == 8
    assert _rebalance_partitions(p, 8) is None


def test_probe_skips_when_one_unit_fills_one_core(tmp_path):
    # cores=1: a single row group IS full parallelism
    p = _write_parquet(str(tmp_path / "one_rg1.parquet"), 4000, 4000)
    assert _rebalance_partitions(p, 1) is None


def test_probe_missing_path_is_noop():
    assert _rebalance_partitions("/nonexistent/x.parquet", 8) is None


def test_probe_refreshes_when_file_rewritten(tmp_path):
    # r17: the memo key carries (mtime_ns, size) — rewriting the same
    # path must re-probe, not reuse the stale decision
    p = str(tmp_path / "rewrite.parquet")
    _write_parquet(p, 4000, 4000)
    assert _rebalance_partitions(p, 8) == 8
    _write_parquet(p, 4000, 500)  # now 8 row groups: probe should skip
    os.utime(p, ns=(1, 1))  # force distinct mtime even on coarse clocks
    assert _rebalance_partitions(p, 8) is None


def test_probe_refreshes_when_file_added_in_partition_dir(tmp_path):
    # the freshness token folds in first-level children: a file added
    # under root/part=x/ moves part=x's mtime, not the root's
    part = tmp_path / "ds" / "part=x"
    part.mkdir(parents=True)
    _write_parquet(str(part / "f0.parquet"), 4000, 4000)
    root = str(tmp_path / "ds")
    assert _rebalance_partitions(root, 8) == 8
    root_mtime = os.stat(root).st_mtime_ns
    for i in range(1, 8):  # 8 files now fill 8 cores: probe should skip
        _write_parquet(str(part / f"f{i}.parquet"), 10, 10)
    assert os.stat(root).st_mtime_ns == root_mtime
    assert _rebalance_partitions(root, 8) is None


@pytest.mark.usefixtures("spark")
def test_load_table_opt_in_spreads_rows_and_keeps_values(spark):
    base = load_table(spark, SF_DIR, "lineitem")
    reb = load_table(spark, SF_DIR, "lineitem", scan_parallel_key="l_orderkey")
    cores = spark.sparkContext.defaultParallelism
    n_nonempty = (
        reb.groupBy(F.spark_partition_id().alias("pid")).count().count()
    )
    if cores > 1:
        assert n_nonempty > 1, (
            "opt-in rebalance should spread a single-row-group scan "
            f"across cores (got {n_nonempty} non-empty partitions)"
        )
    # value identity: same rows either way
    assert base.count() == reb.count()
    # bit_xor, not sum: summing 600k hashes overflows long under ANSI
    a = base.agg(F.bit_xor(F.xxhash64(*sorted(base.columns)))).collect()[0][0]
    b = reb.agg(F.bit_xor(F.xxhash64(*sorted(reb.columns)))).collect()[0][0]
    assert a == b


@pytest.mark.usefixtures("spark")
def test_load_table_default_is_unchanged(spark):
    # no opt-in -> no Repartition node in the plan
    df = load_table(spark, SF_DIR, "documents")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan
