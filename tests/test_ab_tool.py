"""scripts_ab.py's decision logic, without Spark: the verdict rule on
synthetic pairs, and the values-before-timing order on fake workers."""

from __future__ import annotations

import scripts_ab as ab

# parent readings 10.0..10.9: median 10.45, quartiles 10.225/10.675,
# so the parent IQR is 0.45
BASE = [10.0 + i / 10 for i in range(10)]


def test_nine_of_ten_wins_beyond_iqr_is_a_gain():
    change = [b - 1.0 for b in BASE]
    change[3] = BASE[3] + 0.5  # one loss
    v = ab.verdict(BASE, change, bound=0.25)
    assert (v["wins"], v["n"]) == (9, 10)
    assert abs(v["base_iqr"] - 0.45) < 1e-9
    assert v["verdict"] == "gain"


def test_eight_of_ten_wins_is_not_a_gain():
    change = [b - 1.0 for b in BASE]
    change[3] = BASE[3] + 0.5
    change[7] = BASE[7] + 0.5
    v = ab.verdict(BASE, change, bound=0.25)
    assert v["wins"] == 8
    assert v["verdict"] == "flat"


def test_nine_wins_inside_the_iqr_is_not_a_gain():
    change = [b - 0.1 for b in BASE]
    change[0] = BASE[0] + 0.1
    v = ab.verdict(BASE, change, bound=0.25)
    assert v["wins"] == 9
    assert v["verdict"] == "flat"


def test_ties_count_for_neither_side():
    change = [b - 1.0 for b in BASE]
    change[2] = BASE[2]  # tie: not a win, and still one of ten pairs
    change[5] = BASE[5]
    v = ab.verdict(BASE, change, bound=0.25)
    assert (v["wins"], v["n"]) == (8, 10)
    assert v["verdict"] == "flat"
    worse = [b + 1.0 for b in BASE]
    worse[4] = BASE[4]  # a tie is not a loss either: no change wins
    assert ab.verdict(BASE, worse)["wins"] == 0


def test_median_worse_by_more_than_the_bound_is_a_regression():
    v = ab.verdict(BASE, [b * 1.3 for b in BASE], bound=0.25)
    assert v["verdict"] == "regression"
    v = ab.verdict(BASE, [b * 1.2 for b in BASE], bound=0.25)
    assert v["verdict"] == "flat"


def test_higher_is_better_flips_the_direction():
    v = ab.verdict(BASE, [b + 1.0 for b in BASE], bound=0.25, better="higher")
    assert (v["wins"], v["verdict"]) == (10, "gain")
    v = ab.verdict(BASE, [b * 0.7 for b in BASE], bound=0.25, better="higher")
    assert v["verdict"] == "regression"


def test_spread_wider_than_the_bound_is_unresolved():
    base = [1.0, 1.0, 2.0, 2.0]  # IQR 0.75 > 0.25 x median 1.5
    v = ab.verdict(base, [1.5, 1.5, 1.5, 1.5], bound=0.25)
    assert v["verdict"] == "unresolved"


class FakeWorker:
    def __init__(self, side, digest, log):
        self.side, self.digest, self.log = side, digest, log

    def call(self, op, q):
        self.log.append((self.side, op, q))
        return {"hash": self.digest(q), "s": 1.0, "plan": ""}


def test_value_mismatch_stops_before_any_timing():
    log = []
    workers = {
        "base": FakeWorker("base", lambda q: "h-" + q, log),
        "change": FakeWorker(
            "change", lambda q: "h-" + q + ("!" if q == "b" else ""), log
        ),
    }
    lines = []
    rc = ab.run_queries(workers, ["a", "b", "c"], rounds=3, out=lines.append)
    assert rc != 0
    assert {op for _, op, _ in log} == {"hash"}
    assert lines[-1] == "values differ on b: no timing run"


def test_equal_values_time_each_query_every_round_flipping_order():
    log = []
    workers = {s: FakeWorker(s, lambda q: "h", log) for s in ab.SIDES}
    rc = ab.run_queries(workers, ["a"], rounds=2, out=lambda line: None)
    assert rc == 0
    timed = [side for side, op, _ in log if op == "time"]
    assert timed == ["base", "change", "change", "base"]


def _bench_line(setup, cpu, failed=0, correct=True, wall=1.0):
    # the last stdout line of perfbench/run.py, with the context line
    # before it merged in
    return {
        "correct": correct, "attempted": 25, "failed": failed,
        "metrics": {
            "setup_s": {"value": setup, "unit": "s"},
            "round_cpu_s": {"value": cpu, "unit": "s"},
        },
        "context": {"figures": {"round_s": {"value": wall, "unit": "s"}}},
    }


END_TO_END = [
    {"name": "setup_s", "better": "lower", "bound": 0.25},
    {"name": "round_cpu_s", "better": "lower", "bound": 0.25},
]


def test_perfbench_report_reads_result_lines():
    runs = {
        "base": [_bench_line(2.0, b) for b in BASE],
        "change": [_bench_line(2.0, b + 0.01) for b in BASE],
    }
    lines = []
    assert ab.perfbench_report(runs, END_TO_END, lines.append) == 0
    assert any(line.startswith("round_cpu_s") and "flat" in line for line in lines)


def test_perfbench_report_fails_on_regression_failures_or_wrong_output():
    base = [_bench_line(2.0, b) for b in BASE]
    slow = {"base": base, "change": [_bench_line(2.0, b * 1.5) for b in BASE]}
    assert ab.perfbench_report(slow, END_TO_END, lambda line: None) == 1
    failing = {"base": base, "change": base[:-1] + [_bench_line(2.0, 10.9, 1)]}
    assert ab.perfbench_report(failing, END_TO_END, lambda line: None) == 1
    wrong = {"base": base, "change": base[:-1] + [_bench_line(2.0, 10.9, correct=False)]}
    assert ab.perfbench_report(wrong, END_TO_END, lambda line: None) == 1


def test_perfbench_report_shows_wall_round_s_without_judging_it():
    # CPU bought with latency: the change is faster on round_cpu_s but
    # doubles the wall round time
    runs = {
        "base": [_bench_line(2.0, b, wall=1.0 + i / 100) for i, b in enumerate(BASE)],
        "change": [_bench_line(2.0, b - 1.0, wall=2.0 + i / 100) for i, b in enumerate(BASE)],
    }
    lines = []
    assert ab.perfbench_report(runs, END_TO_END, lines.append) == 0
    [wall] = [line for line in lines if line.startswith("round_s (wall)")]
    assert wall.split()[2:4] == ["1.045", "2.045"]
    assert wall.split()[-2:] == ["0/10", "info"]
    assert any(line.startswith("round_cpu_s") and "gain" in line for line in lines)
