#!/usr/bin/env python3
"""Benchmark of the data_engineering_hs_spark engine.

    python3 perfbench/run.py --workload headline_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one closed-loop client
(the next operation starts when the previous one has finished) on a
``local[nproc]`` session built by the engine's own ``get_spark`` with
engine defaults, plus ``spark.ui.showConsoleProgress=false``.

Steps: generate the seeded inputs (cached by content hash under
``.bench_cache``; the build time is ``session.datagen_s``); set up
the session SETUPS times (stop, start, register every table) and
report the median CPU time of a set-up as ``setup_s`` (the first
set-up starts the JVM); compute the workload's expected
results; run a cold round, the first execution of every operation in
the session, verifying each output outside its timed sections; run
WARMUP_ROUNDS more untimed rounds; then run whole timed rounds until
``--seconds`` have passed, at least MIN_ROUNDS. ``round_cpu_s`` is
the median user plus system CPU time a timed round cost the whole
process tree (the Python driver, the JVM and its Python workers);
``round_s``, the median wall time, is among the context figures.

Why a fixed, short warm-up: on a 4-core host a round's time keeps
falling for four or five rounds while the JVM compiles, and a run is
meant to end in about a minute, of which JVM start and set-up take
15-25 s; that leaves room for about four rounds in all. A second
warm-up round did not make the timed rounds steadier. Every run times
the same rounds of the same warm-up stage, so runs compare.

``--trace 0`` prints the end-to-end metrics ``setup_s`` and
``round_cpu_s``; the context line adds the figures of FIGURES.
``--trace 1`` also runs one more, traced round whose outputs are
checked again, and prints the per-layer metrics (see layers.py) with
``trace_overhead_pct``, the traced round's wall time over the median
timed round's. ``--smoke`` runs a tiny input, for the benchmark's own
tests.

Results taken at different core counts or input scales are not
comparable; the context line records both.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's context (host, versions, dataset hash, CPU steal,
fail ratio, operation tail percentile and any problems found).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

from workloads import HEADLINE_QUERIES, WORKLOADS, Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
WARMUP_ROUNDS = 1
MIN_ROUNDS = 2

END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
}
# Further figures of the timed rounds, printed in the context line of
# every run without a bound. On a shared 4-core host, a round's wall
# time doubled in runs where other tenants held the CPU (steal) while
# its CPU time rose by a seventh, so wall time cannot carry a bound
# there; executor task CPU is a small share of a round, and the
# operation figures follow single queries or batches.
FIGURES = {
    "round_s": "s",
    "task_cpu_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.register_s": "s",
    "session.peak_rss_mb": "MB",
    "session.datagen_s": "s",
    "session.warmup_s": "s",
    "session.jvm_heap_used_mb": "MB",
    "queries.build_ms": "ms",
    **{f"query.{n}.s": "s" for n in HEADLINE_QUERIES},
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalog.scan_ms": "ms",
    "catalog.files_read": "count",
    "catalog.bytes_read": "bytes",
    "catalog.rows_scanned": "count",
    "catalog.rows_scanned_per_row_out": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.exchanges": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_ms": "ms",
    "exec.shuffle_fetch_wait_ms": "ms",
    "exec.broadcast_build_ms": "ms",
    "exec.broadcast_collect_ms": "ms",
    "exec.broadcast_alloc_bytes": "bytes",
    "exec.codegen_pipeline_ms": "ms",
    "exec.python_rows": "count",
    "exec.python_bytes": "bytes",
    "exec.python_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.peak_alloc_bytes": "bytes",
    "exec.self_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_in": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.lifecycle_ms": "ms",
    "sources.write_partitioned_ms": "ms",
    "sources.write_calls": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_amp": "ratio",
    "sources.compact_ms": "ms",
    "sources.files_before_compact": "count",
    "sources.files_after_compact": "count",
    "sources.swap_in_ms": "ms",
    "operators.dedup.store_read_ms": "ms",
    "operators.dedup.survivor_ratio": "ratio",
    "operators.cdc.merge_batch_ms": "ms",
    "host.steal_pct": "%",
    "host.busy_ticks": "count",
    "trace_overhead_pct": "%",
}
SMOKE_SPECS = {
    "headline_sf0.01": {"sf": 0.001, "docs": 200, "vecs": 100},
    "ingest": {
        "sf": 0.001, "docs": 100, "vecs": 50,
        "ingest": {"n_files": 2, "rows_per_file": 200, "resend": 0.3,
                   "n_changesets": 2, "change_rows": 200},
    },
}


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies from the aggregate /proc/stat cpu line,
    busy = user+nice+system+irq+softirq; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[0] + vals[1] + vals[2] + vals[5] + vals[6], (
            vals[7] if len(vals) > 7 else 0
        )
    except (OSError, ValueError, IndexError):
        return 0, 0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the JVM and its Python workers), with the totals of
    reaped children. Time the host gives to its other tenants (steal)
    is not counted, unlike in wall time."""
    procs: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def stage_cpu_s(spark, after: int) -> tuple[int, float]:
    """Executor CPU seconds of the stages with an id above ``after``,
    from Spark's status store, and the highest stage id seen. Task
    CPU time leaves out the JVM's compiler and collector threads and
    the Python driver."""
    sc = spark.sparkContext
    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    it = store.stageList(None, False, False, no_quantiles, None).iterator()
    last, ns = after, 0
    while it.hasNext():
        stage = it.next()
        if stage.stageId() > after:
            ns += stage.executorCpuTime()
            last = max(last, stage.stageId())
    return last, ns / 1e9


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tail(values: list[float]) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it (never
    below the median), as (name, value)."""
    s = sorted(values)
    n = len(s)
    pct = max(50, (100 * (n - 10)) // n) if n else 50
    return f"p{pct}", s[min(n - 1, (pct * n) // 100)] if s else 0.0


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and give the
    engine its defaults: only the core count is set."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def start_session(previous, data: str):
    """One set-up: (re)start the session and register every table.
    Returns (spark, start seconds, registration seconds)."""
    from data_engineering_hs_spark.catalog import register_views
    from data_engineering_hs_spark.session import get_spark

    if previous is not None:
        previous.stop()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t1 = time.perf_counter()
    register_views(spark, data)
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM this process started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def source_bytes(data: str) -> int:
    total = 0
    for sub in ("drops", "changes"):
        d = os.path.join(data, sub)
        if os.path.isdir(d):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return total


def layer_metrics(traced: dict, timed: dict) -> dict:
    """Per-layer values of the traced round, and its time over the
    untraced timed round's as ``trace_overhead_pct``."""
    out = dict(traced["layers"])
    out["catalog.rows_scanned_per_row_out"] = out.get("catalog.rows_scanned", 0) / max(
        1, out.get("catalog.rows_out", 0)
    )
    out["trace_overhead_pct"] = 100.0 * (traced["round_s"] / timed["round_s"] - 1)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_engineering_hs_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    prepare_environment(work)

    import datagen

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload_cls = WORKLOADS[args.workload]
    spec = SMOKE_SPECS[args.workload] if args.smoke else workload_cls.spec
    data, info = datagen.generate(ROOT, args.seed, spec)

    from data_engineering_hs_spark.queries import load_all

    load_all()
    busy0, steal0 = cpu_ticks()
    spark = None
    starts, registers, setups, setups_cpu = [], [], [], []
    try:
        for _ in range(SETUPS):
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            spark, start_s, register_s = start_session(spark, data)
            setups.append(time.perf_counter() - t0)
            setups_cpu.append(tree_cpu_s() - cpu0)
            starts.append(start_s)
            registers.append(register_s)
        run = Run(spark, data, info, args.seed, work)
        workload = workload_cls(run)
        workload.prepare()
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark, workload.wrappers())
        # cold round: first execution of every operation, checked;
        # then WARMUP_ROUNDS untimed rounds
        t0 = time.perf_counter()
        cold = workload.run_round(0, None, check=True)
        for i in range(WARMUP_ROUNDS if cold else 0):
            workload.run_round(1 + i, None, check=False)
        warmup_s = time.perf_counter() - t0
        # timed: whole rounds until --seconds have passed, at least MIN_ROUNDS
        rounds: list[dict] = []
        last_stage, _ = stage_cpu_s(spark, -1)
        deadline = time.perf_counter() + args.seconds
        while cold and (len(rounds) < MIN_ROUNDS or time.perf_counter() < deadline):
            cpu0 = tree_cpu_s()
            r = workload.run_round(1 + WARMUP_ROUNDS + len(rounds), None, check=False)
            if not r:
                break
            r["cpu_s"] = tree_cpu_s() - cpu0
            last_stage, r["task_cpu_s"] = stage_cpu_s(spark, last_stage)
            rounds.append(r)
        timed = {
            k: statistics.median(r[k] for r in rounds)
            for k in ("round_s", "cpu_s", "task_cpu_s", "rows_per_s")
        } if rounds else {}
        if timed:
            timed["ops_ms"] = [ms for r in rounds for ms in r["ops_ms"]]
        traced = (
            workload.run_round(1 + WARMUP_ROUNDS + len(rounds), tracer, check=True)
            if tracer and timed else {}
        )

        jvm = spark._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        runtime = jvm.java.lang.Runtime.getRuntime()
        heap_mb = (runtime.totalMemory() - runtime.freeMemory()) / 2**20
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024
        busy1, steal1 = cpu_ticks()
        sc = spark.sparkContext
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "smoke": args.smoke,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "dataset_hash": info["dataset_hash"],
            "rows": info["rows"],
            "host_busy_ticks": busy1 - busy0,
            "host_steal_ticks": steal1 - steal0,
            "setups_s": setups,
            "setups_cpu_s": setups_cpu,
            "timed_rounds": len(rounds),
            "rounds": [
                {k: r[k] for k in ("round_s", "cpu_s", "task_cpu_s")} for r in rounds
            ],
            "cold_round_s": cold.get("round_s"),
            "traced_round_s": traced.get("round_s"),
        }
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    ok = bool(timed) and run.failed == 0
    context["fail_ratio"] = run.failed / max(1, run.attempted)
    ops = timed.get("ops_ms", [])
    tail_name, tail_ms = tail(ops)
    figures = {
        "round_s": timed.get("round_s", 0.0),
        "task_cpu_s": timed.get("task_cpu_s", 0.0),
        "op_p50_ms": statistics.median(ops) if ops else 0.0,
        "rows_per_s": timed.get("rows_per_s", 0.0),
    }
    context["figures"] = {n: {"value": figures[n], "unit": u} for n, u in FIGURES.items()}
    context["op_tail"] = {"percentile": tail_name, "ms": tail_ms, "samples": len(ops)}
    context["problems"] = run.problems[:20]
    if args.trace:
        values = layer_metrics(traced, timed) if traced else {}
        values.update(
            {
                "session.start_s": statistics.median(starts),
                "session.register_s": statistics.median(registers),
                "session.peak_rss_mb": peak_rss_mb,
                "session.datagen_s": info["datagen_s"],
                "session.warmup_s": warmup_s,
                "session.jvm_heap_used_mb": heap_mb,
                "host.busy_ticks": busy1 - busy0,
                "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, busy1 - busy0),
            }
        )
        if values.get("sources.bytes_written"):
            values["sources.write_amp"] = values["sources.bytes_written"] / max(
                1, source_bytes(data)
            )
        units = PER_LAYER
    else:
        values = {
            "setup_s": statistics.median(setups_cpu),
            "round_cpu_s": timed.get("cpu_s", 0.0),
        }
        units = END_TO_END
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": max(1, run.attempted),
                "failed": run.failed if run.attempted else 1,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
