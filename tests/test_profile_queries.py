"""The pure /proc parsers of tools/profile_queries.py, on canned strings
(no Spark, no /proc)."""

import importlib.util
from pathlib import Path

import pytest

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "profile_queries.py"
_spec = importlib.util.spec_from_file_location("profile_queries", _TOOL)
pq = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pq)


@pytest.mark.parametrize("comm,bucket", [
    ("Executor task l\n", "executor"),     # comm is cut to 15 bytes
    ("C1 CompilerThre\n", "jit"),
    ("C2 CompilerThre", "jit"),
    ("GC Thread#3", "gc"),
    ("G1 Conc#0", "gc"),
    ("G1 Refine#0", "gc"),
    ("VM Thread", "other"),
    ("Thread-4", "other"),
    ("main", "other"),
    ("dispatcher-even", "other"),
])
def test_thread_class(comm, bucket):
    assert pq.thread_class(comm) == bucket


def test_stat_ticks_sums_utime_and_stime():
    # fields 14/15 (utime, stime) = 1234 + 56; comm with spaces and a ')'
    line = ("4242 (C2 Compiler) x) S 4200 4200 4200 0 -1 1077936192 "
            "1500 0 3 0 1234 56 0 0 20 0 90 0 321 8000000 5000 "
            "18446744073709551615 1 1 0 0 0 0 0 0 0 0 0 0 -1 2 0 0 0 0 0\n")
    assert pq.stat_ticks(line) == 1290


def test_cpu_split_buckets_live_and_exited_threads():
    tck = pq.CLK_TCK
    before = (10 * tck, {1: ("main", 2 * tck),
                         2: ("C2 CompilerThre", 3 * tck),
                         3: ("Executor task l", 1 * tck)})
    # thread 3 exited; thread 4 is new; the process gained 9 s in all
    after = (19 * tck, {1: ("main", 3 * tck),
                        2: ("C2 CompilerThre", 6 * tck),
                        4: ("GC Thread#0", 2 * tck)})
    assert pq.cpu_split(before, after) == {
        "executor": 0.0, "jit": 3.0, "gc": 2.0, "other": 1.0,
        "exited": 3.0}
