"""The benchmark's own tests. They start no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import contextlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import steadiness  # noqa: E402
from spans import Job, Span, SpanTree  # noqa: E402


def test_generator_is_seeded():
    a, b, c = gen.events_table(7, rows=2000), gen.events_table(7, rows=2000), gen.events_table(8, rows=2000)
    assert a.equals(b)
    assert not a.equals(c)
    assert gen.window(7, 1) == gen.window(7, 1)
    assert {gen.window(s, 1) for s in range(10)} != {gen.window(7, 1)}


def test_probe_imports_nothing_from_the_package():
    tree = ast.parse(open(os.path.join(HERE, "probe.py")).read())
    names = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names}
    names |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
    assert names <= {"__future__", "os", "subprocess"}
    out = subprocess.run(
        [sys.executable, "-c", "import sys, probe; "
         "print(any(m.split('.')[0] in ('querysight_spark', 'pyspark') for m in sys.modules))"],
        cwd=HERE, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == "False"


EXPECTED = {"select * from db0.t1 where k = ?": (3, 12.5, ("db0.t1",)),
            "select a from db1.t2": (2, 4.0, ("db1.t2",)),
            "select b from db1.t3": (1, 1.0, ("db1.t3",))}


def _rows(patterns):
    return [{"normalized_query": q, "frequency": n, "total_duration_ms": d, "tables_accessed": list(t)}
            for q, (n, d, t) in patterns.items()]


class _Workload:
    """An op whose output is the oracle's own answer, corrupted on odd ops."""

    def op(self, i):
        rows = _rows(EXPECTED)
        if i % 2:
            rows[0]["frequency"] += 1
        return rows

    def check(self, rows):
        return oracle.check_patterns(rows, EXPECTED)

    def hit_ratio(self, out):
        return 0.0

    def rows_per_op(self, i):
        return 6


def test_checks_accept_the_oracle_and_catch_corruption():
    assert oracle.check_patterns(_rows(EXPECTED), EXPECTED) == []
    assert oracle.check_top(_rows(EXPECTED)[:2], EXPECTED, 2) == []
    bad = _rows(EXPECTED)
    bad[1]["tables_accessed"] = ["db9.t9"]
    assert oracle.check_patterns(bad, EXPECTED)
    assert oracle.check_patterns(_rows(EXPECTED)[:2], EXPECTED)  # a pattern missing
    assert oracle.check_top(_rows(EXPECTED)[1:], EXPECTED, 2)  # not the top 2
    bad = _rows(EXPECTED)
    bad[0]["total_duration_ms"] = 12.6
    assert oracle.check_patterns(bad, EXPECTED)


def test_corrupted_op_output_counts_in_failed_ratio():
    wl = _Workload()
    ops = [run.timed_op(wl, i, lambda name: contextlib.nullcontext()) for i in range(4)]
    assert [o["ok"] for o in ops] == [True, False, True, False]
    assert run.failed_ratio(ops) == 0.5


def test_oracle_merge_adds_slices():
    merged = oracle.merge([{"q": (1, 1.25, ("a",))}, {"q": (2, 2.5, ("b",)), "r": (1, 1.0, ())}])
    assert merged == {"q": (3, 3.75, ("a", "b")), "r": (1, 1.0, ())}


def test_span_self_time_and_driver_time():
    spans = [Span("a", "op", 0.0, 10.0, None, "op-0", 1.0),
             Span("b", "child", 2.0, 5.0, "a", "op-0", 1.0),
             Span("c", "child", 4.0, 7.0, "a", "op-0", 1.0)]
    jobs = {1: Job(1, "b", 2.5, 3.5, tasks=4, run_s=2.0),
            2: Job(2, None, 6.0, 8.0, tasks=1, run_s=1.0)}  # no group: given to span c by time
    tree = SpanTree(spans, jobs)
    assert tree.self_s(spans[0]) == 10.0 - 5.0
    assert [j.id for j in tree.jobs(spans[2])] == [2]
    assert sum(j.tasks for j in tree.jobs(spans[0])) == 5
    assert tree.no_job_s(spans[0]) == 10.0 - 1.0 - 2.0


def test_spread_is_iqr_over_median():
    med, sp = steadiness.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0 and abs(sp - 3.0 / 3.0) < 1e-12
