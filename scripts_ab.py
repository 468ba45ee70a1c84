"""A/B two commits of the engine: values first, then interleaved timing.

    python scripts_ab.py [--base REF] [--change REF] --queries a,b,... \\
        --sf DIR [--rounds 5] [--plans OUTDIR]
    python scripts_ab.py [--base REF] [--change REF] \\
        --perfbench WORKLOAD [--pairs 10]

--base defaults to HEAD, --change to this working tree (snapshotted
as a commit, untracked files included); each side is checked out
with ``git worktree add --detach`` in a temporary directory that is
removed on exit, so both run from fresh checkouts.

Query mode keeps one worker process per side, which imports its own
checkout's package. Every query first runs cold on both sides and the
hashes of the results, canonicalized by this checkout's
``tests/oracle_harness._canon_df``, must match: otherwise it exits 1
before any timing. Then each round times every query to
``toPandas()`` on both sides, the side going first flipping per round.
``--plans`` writes ``explain("formatted")`` to OUTDIR/<query>_<side>.txt.

Perfbench mode runs each side's BENCHMARK.json command on seeds
1..P, flipping which side goes first, and judges each end-to-end
metric: a gain needs the change to win 9 of 10 pairs (ties count for
neither) and a median delta above the base's interquartile range; a
regression is a median worse by more than the metric's bound. It
exits 1 on a regression, an incorrect run or a higher fail ratio.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SIDES = ("base", "change")


def verdict(base, change, bound=None, better="lower"):
    """Compare pair i's readings base[i] and change[i]."""
    sign = 1 if better == "lower" else -1
    n = len(base)
    wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    mb, mc = statistics.median(base), statistics.median(change)
    q = statistics.quantiles(base, n=4, method="inclusive") if n > 1 else [0, 0, 0]
    iqr = q[2] - q[0]
    if bound is not None and sign * (mc - mb) > bound * mb:
        word = "regression"
    elif 10 * wins >= 9 * n and sign * (mb - mc) > iqr:
        word = "gain"
    elif (
        bound is not None
        and iqr > bound * mb
        and not all(sign * (b - c) > 0 for b in base for c in change)
    ):
        word = "unresolved"  # spread wider than the bound
    else:
        word = "flat"
    return {
        "base_med": mb, "change_med": mc, "base_iqr": iqr,
        "wins": wins, "n": n, "verdict": word,
    }


def _row(name, v):
    return (
        f"{name:28} {v['base_med']:>10.4g} {v['change_med']:>10.4g} "
        f"{v['base_iqr']:>9.3g} {v['wins']:>3}/{v['n']:<3} {v['verdict']}"
    )


_HEADER = f"{'':28} {'base_med':>10} {'change_med':>10} {'base_iqr':>9} {'wins':>7} verdict"


# --------------------------------------------------------------- query mode


def serve(root: str, sf: str) -> None:
    """Worker loop: one JSON request per stdin line, one reply each."""
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # Spark, py4j and query prints stay off the protocol
    sys.path[0] = root
    sys.path.append(os.path.join(HERE, "tests"))
    import data_engineering_hs_spark as pkg
    from data_engineering_hs_spark.queries import REGISTRY, load_all
    from data_engineering_hs_spark.session import get_spark
    from oracle_harness import _canon_df

    load_all()
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    out.write(json.dumps({"package": pkg.__file__}) + "\n")
    for line in sys.stdin:
        req = json.loads(line)
        try:
            t0 = time.perf_counter()
            df = REGISTRY[req["q"]].fn(spark, sf)
            if req["op"] == "plan":
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                res = {"plan": buf.getvalue()}
            else:
                pdf = df.toPandas()
                res = {"s": time.perf_counter() - t0}
                if req["op"] == "hash":
                    canon = repr(_canon_df(pdf)).encode()
                    res["hash"] = hashlib.sha256(canon).hexdigest()
        except Exception as e:  # noqa: BLE001 — reported to the parent
            res = {"error": repr(e)}
        out.write(json.dumps(res) + "\n")


class Worker:
    def __init__(self, root: str, sf: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", root, sf],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            bufsize=1, cwd=root,
        )
        pkg = self._read()["package"]
        if not pkg.startswith(os.path.join(root, "")):
            raise RuntimeError(f"worker for {root} imported {pkg}")

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"worker exited ({self.proc.wait()})")
        return json.loads(line)

    def call(self, op: str, q: str) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, "q": q}) + "\n")
        res = self._read()
        if "error" in res:
            raise RuntimeError(f"{q}: {res['error']}")
        return res

    def close(self) -> None:
        self.proc.stdin.close()  # ends the worker's loop and its JVM
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()


def run_queries(workers, queries, rounds, plans=None, out=print) -> int:
    """Values first, then timing. ``workers`` maps each side to an
    object with ``call(op, query)``."""
    bad = []
    for q in queries:
        h = {s: workers[s].call("hash", q)["hash"] for s in SIDES}
        out(f"values {q}: {'same' if h['base'] == h['change'] else 'DIFFER'}")
        if h["base"] != h["change"]:
            bad.append(q)
    if bad:
        out(f"values differ on {','.join(bad)}: no timing run")
        return 1
    if plans:
        os.makedirs(plans, exist_ok=True)
        for q in queries:
            for s in SIDES:
                with open(os.path.join(plans, f"{q}_{s}.txt"), "w") as f:
                    f.write(workers[s].call("plan", q)["plan"])
        out(f"plans written to {plans}")
    times = {s: {q: [] for q in queries} for s in SIDES}
    for r in range(rounds):
        order = SIDES if r % 2 == 0 else SIDES[::-1]
        for q in queries:
            for s in order:
                times[s][q].append(workers[s].call("time", q)["s"])
    out(f"seconds to toPandas(), {rounds} interleaved rounds")
    out(_HEADER)
    for q in queries:
        out(_row(q, verdict(times["base"][q], times["change"][q])))
    return 0


# ----------------------------------------------------------- perfbench mode


def run_perfbench(roots, workload, pairs, out=print) -> int:
    with open(os.path.join(HERE, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = {s: [] for s in SIDES}
    for seed in range(1, pairs + 1):
        for s in SIDES if seed % 2 else SIDES[::-1]:
            cmd = bench["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]),
            ]
            # stderr passes through; the result is the last stdout line
            p = subprocess.run(
                cmd, cwd=roots[s], stdout=subprocess.PIPE, text=True, check=True
            )
            line = p.stdout.strip().splitlines()[-1]
            runs[s].append(json.loads(line))
            out(f"seed {seed} {s}: {line}")
    out(f"{workload}, {pairs} pairs")
    return perfbench_report(runs, bench["end_to_end"], out)


def perfbench_report(runs, end_to_end, out=print) -> int:
    """Verdict per end-to-end metric over each side's result lines;
    1 on a regression, an incorrect run or a higher fail ratio."""
    rc = 0
    out(_HEADER)
    for m in end_to_end:
        vals = {
            s: [r["metrics"][m["name"]]["value"] for r in runs[s]] for s in SIDES
        }
        v = verdict(vals["base"], vals["change"], m["bound"], m["better"])
        out(_row(m["name"], v))
        rc |= v["verdict"] == "regression"
    ratio = {}
    for s in SIDES:
        att = sum(r["attempted"] for r in runs[s])
        ratio[s] = sum(r["failed"] for r in runs[s]) / max(att, 1)
        wrong = sum(not r["correct"] for r in runs[s])
        out(f"{s}: fail ratio {ratio[s]:.4g}, {wrong} incorrect runs")
        rc |= wrong > 0
    return int(rc or ratio["change"] > ratio["base"])


def _git(*args: str, env=None) -> str:
    return subprocess.run(
        ["git", "-C", HERE, *args],
        check=True, capture_output=True, text=True, env=env,
    ).stdout.strip()


def _snapshot(tmp: str) -> str:
    """A commit of the working tree, untracked files included, built
    through a temporary index, so HEAD, the index and the refs stay as
    they are."""
    env = {**os.environ, "GIT_INDEX_FILE": os.path.join(tmp, "index")}
    _git("read-tree", "HEAD", env=env)
    _git("add", "-A", env=env)
    tree = _git("write-tree", env=env)
    return _git("commit-tree", tree, "-p", "HEAD", "-m", "working tree")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--change", help="git ref (default: the working tree)")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--queries", help="comma-separated registry queries")
    mode.add_argument("--perfbench", metavar="WORKLOAD")
    ap.add_argument("--sf", help="dataset directory (query mode)")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--plans", metavar="OUTDIR")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.queries and not args.sf:
        ap.error("--queries needs --sf")

    sys.stdout.reconfigure(line_buffering=True)
    # SIGTERM unwinds like Ctrl-C, so the worktrees are still removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    roots, tmp = {}, tempfile.mkdtemp(prefix="spark-graft-ab-")
    workers = {}
    try:
        for s, ref in (("base", args.base), ("change", args.change)):
            # both sides run from fresh checkouts, the working tree too
            sha = (
                _git("rev-parse", "--verify", f"{ref}^{{commit}}")
                if ref else _snapshot(tmp)
            )
            roots[s] = os.path.join(tmp, s)
            _git("worktree", "add", "--detach", roots[s], sha)
            print(f"{s}: {ref or 'working tree'} = {sha[:12]}")
        if args.perfbench:
            return run_perfbench(roots, args.perfbench, args.pairs)
        for s in SIDES:
            workers[s] = Worker(roots[s], os.path.abspath(args.sf))
        return run_queries(workers, args.queries.split(","), args.rounds, args.plans)
    finally:
        for w in workers.values():
            w.close()
        shutil.rmtree(tmp, ignore_errors=True)
        _git("worktree", "prune")  # drops the removed worktrees' records


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        serve(*sys.argv[2:4])
    else:
        sys.exit(main())
