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


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    return (f"{pid} ({comm}) S {ppid} {pid} {pid} 0 -1 4194304 100 0 0 0 "
            f"{utime} {stime} {cutime} {cstime} 20 0 1 0 500 1000 300\n")


def test_descendant_ticks_walks_the_tree_below_the_jvm():
    # JVM 100 -> daemon 200 (its cutime/cstime hold reaped workers) ->
    # workers 201, 202 -> 203; 300 and 301 are beside the JVM, not below
    stats = {
        1: _stat(1, "init", 0, 5, 5, 900, 900),
        100: _stat(100, "java", 1, 7000, 300, 11, 13),
        200: _stat(200, "python3 (pyspark.daemon)", 100, 40, 2, 500, 60),
        201: _stat(201, "python3", 200, 120, 8),
        202: _stat(202, "py ) worker", 200, 30, 1),
        203: _stat(203, "sh", 202, 1, 1, 2, 3),
        300: _stat(300, "python3", 1, 999, 999, 999, 999),
        301: _stat(301, "python3", 300, 999, 999),
    }
    assert pq.descendant_ticks(100, stats) == (
        (40 + 2 + 500 + 60) + (120 + 8) + (30 + 1) + (1 + 1 + 2 + 3))
    assert pq.descendant_ticks(202, stats) == 7
    assert pq.descendant_ticks(203, stats) == 0
    assert pq.stat_ticks(stats[202]) == 31
