"""Registry sweeps, chunked so several can run side by side.

By default each registry query runs beside its DuckDB oracle
(tests/oracle_harness.compare_query). ``--det`` runs it under
spark.sql.shuffle.partitions=3 and =17 in one session and compares the
canonicalized results: the partitioning-determinism check, which
catches collect-order and float-merge-order nondeterminism.

    python scripts_sweep.py <chunk_idx> <n_chunks> [--det] [--sf DIR]
    python scripts_sweep.py --names a_mode,t_langid [--det] [--sf DIR]

``--sf`` takes the dataset directory, sf0.01 by default; sf0.1 sweeps
at 10x that scale, which reaches cap boundaries and overflow that
sf0.01 never does. Prints one line per query, NAME (SECONDS)
OK|FAIL|NONDET|ERROR, and exits 1 if any failed.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))


def check(spark, name: str, sf_dir: str, det: bool) -> str:
    """"OK", or what went wrong with one query."""
    from data_engineering_hs_spark.queries import REGISTRY
    from oracle_harness import _canon_df, compare_query

    if not det:
        res = compare_query(spark, name, sf_dir)
        return f"FAIL: {res}" if res else "OK"
    outs = []
    for parts in ("3", "17"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        outs.append(_canon_df(REGISTRY[name].fn(spark, sf_dir).toPandas()))
    return "OK" if outs[0] == outs[1] else "NONDET"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("chunk_idx", nargs="?", type=int, default=0)
    ap.add_argument("n_chunks", nargs="?", type=int, default=1)
    ap.add_argument("--names", help="comma-separated subset, in place of chunks")
    ap.add_argument("--det", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args(argv)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.join(HERE, "tests"))
    from data_engineering_hs_spark.queries import REGISTRY, load_all

    load_all()
    names = args.names.split(",") if args.names else sorted(REGISTRY)
    mine = names[args.chunk_idx :: args.n_chunks]
    print(f"chunk {args.chunk_idx}/{args.n_chunks}: {len(mine)} queries", flush=True)
    bad = 0
    for name in mine:
        t0 = time.time()
        try:
            res = check(spark, name, args.sf, args.det)
        except Exception as e:  # noqa: BLE001 — report and sweep on
            res = f"ERROR: {e!r}"
            traceback.print_exc()
        bad += res != "OK"
        print(f"{name} ({time.time() - t0:.1f}s) {res}", flush=True)
    print(f"chunk {args.chunk_idx}: {bad} failures", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
