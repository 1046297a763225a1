"""Per-query codegen and CPU profile of the query registry.

Runs passes over the registry queries, each query constructed and run to
Spark's noop sink with cached relations cleared before it (the shape of
perfbench's `queries_cold` unit), and reports for every query:

- `jobs`: the Spark jobs the query ran, construction included (each
  query runs in its own job group; `statusTracker().getJobIdsForGroup`);
- `compiles`: Janino compiles the query caused — the delta of
  `CodegenMetrics.METRIC_COMPILATION_TIME`'s count, which moves only on
  a codegen-cache miss. The cache is keyed on generated source, so a
  compile on a repeat pass means the cache evicted the class or the
  query generated new source (a per-run literal inlined into the code,
  or a codegen stage AQE numbered differently: the number is part of
  the class name);
- `cpu_s`: JVM processor time by thread class — `executor` task
  threads, `jit` (HotSpot C1/C2 compiler threads), `gc`, `other` live
  threads, and `exited` (threads that ended during the query: the
  process total less the live threads' sum) — read from
  `/proc/<jvm pid>/task/*/{comm,stat}` and `/proc/<jvm pid>/stat`; and
  `pyworkers`, the processor time of every process below the JVM (the
  PySpark daemon and the Python workers it forks): their utime + stime +
  cutime + cstime from `/proc/<pid>/stat`, so a worker that exited and
  was reaped still counts through its parent;
- `wall_s`.

Pass 0 compiles each distinct generated class of the pass once, as long
as the codegen cache holds a whole pass (so this count, plus headroom,
sizes `session.CODEGEN_CACHE_ENTRIES`); later passes name the queries
that still recompile. `--cache-entries 100` builds the session with
Spark's default cache size instead, for a before/after comparison.

Usage:
    python tools/profile_queries.py SF_DIR [query ...] [--passes N]
        [--cache-entries N] [--out PROFILE.json]

SF_DIR holds the fixture parquet tables. Defaults: every registry query,
2 passes. Prints one line per query and pass to stderr and the JSON
profile to stdout (or to `--out`).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

JVM_BUCKETS = ("executor", "jit", "gc", "other", "exited")
BUCKETS = JVM_BUCKETS + ("pyworkers",)
#: comm prefixes of each thread class; the kernel cuts comm to 15 bytes
#: ("Executor task launch worker ..." -> "Executor task l")
_PREFIXES = (
    ("executor", ("Executor task",)),
    ("jit", ("C1 Compiler", "C2 Compiler")),
    ("gc", ("GC Thread", "G1 ")),
)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def thread_class(comm: str) -> str:
    """The bucket of a JVM thread, from its /proc comm name."""
    comm = comm.strip()
    for bucket, prefixes in _PREFIXES:
        if comm.startswith(prefixes):
            return bucket
    return "other"


def _stat_fields(stat: str) -> list[str]:
    """The fields of a /proc/<pid>[/task/<tid>]/stat line after comm. The
    comm field (2) may hold spaces and parentheses, so fields are counted
    after its closing parenthesis: state (field 3) is [0], ppid [1],
    utime [11], stime [12], cutime [13] and cstime [14]."""
    return stat[stat.rindex(")") + 2:].split()


def stat_ticks(stat: str) -> int:
    """utime + stime, in clock ticks, of one stat line."""
    fields = _stat_fields(stat)
    return int(fields[11]) + int(fields[12])


def descendant_ticks(root: int, stats: dict[int, str]) -> int:
    """utime + stime + cutime + cstime, in clock ticks, summed over every
    process below `root`, from `stats` ({pid: /proc/<pid>/stat line}).
    `root`'s own time is not in it."""
    children: dict[int, list[int]] = {}
    for pid, stat in stats.items():
        children.setdefault(int(_stat_fields(stat)[1]), []).append(pid)
    total, todo = 0, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        total += sum(int(x) for x in _stat_fields(stats[pid])[11:15])
        todo.extend(children.get(pid, ()))
    return total


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:                     # the thread exited meanwhile
        return None


def cpu_snapshot(pid: int) -> tuple[int, dict[int, tuple[str, int]]]:
    """(process ticks, {tid: (comm, ticks)}) of process `pid`."""
    threads = {}
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        comm = _read(f"{task_dir}/{tid}/comm")
        stat = _read(f"{task_dir}/{tid}/stat")
        if comm is not None and stat is not None:
            threads[int(tid)] = (comm, stat_ticks(stat))
    return stat_ticks(_read(f"/proc/{pid}/stat")), threads


def pyworker_ticks(pid: int) -> int:
    """`descendant_ticks` of process `pid`, read from /proc."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _read(f"/proc/{entry}/stat")
            if stat is not None:
                stats[int(entry)] = stat
    return descendant_ticks(pid, stats)


def cpu_split(before, after) -> dict[str, float]:
    """CPU seconds by JVM thread class between two `cpu_snapshot`s."""
    (total0, threads0), (total1, threads1) = before, after
    ticks = dict.fromkeys(JVM_BUCKETS, 0)
    for tid, (comm, t1) in threads1.items():
        t0 = threads0.get(tid, (comm, 0))[1]
        ticks[thread_class(comm)] += t1 - t0 if t1 >= t0 else t1
    ticks["exited"] = max(0, total1 - total0 - sum(ticks.values()))
    return {b: round(t / CLK_TCK, 2) for b, t in ticks.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--cache-entries", type=int,
                    help="codegen cache size to build the session with "
                         "(default: the engine's)")
    ap.add_argument("--out", help="write the JSON profile to this file")
    opts = ap.parse_args(argv)
    sf_dir, names = opts.sf_dir, opts.queries

    from amazon_kinesis_replay_spark import session
    from amazon_kinesis_replay_spark.plans import QUERIES
    names = names or list(QUERIES)
    if opts.cache_entries:
        session.CODEGEN_CACHE_ENTRIES = opts.cache_entries

    c0 = time.process_time()
    spark = session.build_spark("profile-queries")
    session.ensure_engine_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    compile_time = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                    .METRIC_COMPILATION_TIME())
    cache_entries = int(spark.sparkContext.getConf().get(
        session.CODEGEN_CACHE_CONF))

    passes = []
    for pass_no in range(opts.passes):
        spark.catalog.clearCache()
        jvm.System.gc()
        queries, total, wall = {}, dict.fromkeys(BUCKETS, 0.0), 0.0
        for name in names:
            spark.catalog.clearCache()
            group = f"profile-{pass_no}-{name}"
            sc.setJobGroup(group, name)
            n0, s0, p0, t0 = compile_time.getCount(), cpu_snapshot(pid), \
                pyworker_ticks(pid), time.perf_counter()
            error = None
            try:
                QUERIES[name].fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - reported per query
                error = f"{type(exc).__name__}: {exc}"[:300]
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()   # job records
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            cpu = cpu_split(s0, cpu_snapshot(pid))
            cpu["pyworkers"] = round(
                max(0, pyworker_ticks(pid) - p0) / CLK_TCK, 2)
            row = {"jobs": jobs, "compiles": compile_time.getCount() - n0,
                   "cpu_s": cpu, "wall_s": round(dt, 3)}
            if error:
                row["error"] = error
            queries[name] = row
            total = {b: round(total[b] + cpu[b], 2) for b in BUCKETS}
            wall += dt
            print(f"pass {pass_no} {name}: {jobs} jobs, "
                  f"{row['compiles']} compiles, "
                  f"{sum(cpu.values()):.2f} CPU-s (jit {cpu['jit']:.2f}, "
                  f"executor {cpu['executor']:.2f}, "
                  f"pyworkers {cpu['pyworkers']:.2f}), {dt:.2f} s"
                  + (f" | {error}" if error else ""), file=sys.stderr)
        passes.append({"pass": pass_no,
                       "jobs": sum(q["jobs"] for q in queries.values()),
                       "compiles": sum(q["compiles"] for q in
                                       queries.values()),
                       "cpu_s": total, "wall_s": round(wall, 2),
                       "queries": queries})

    profile = {
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "codegen_cache_entries": cache_entries,
        "queries": len(names),
        "jobs_per_pass": [p["jobs"] for p in passes],
        "compiles_per_pass": [p["compiles"] for p in passes],
        "recompiled_on_last_pass": {
            n: q["compiles"] for n, q in passes[-1]["queries"].items()
            if q["compiles"]} if len(passes) > 1 else {},
        "driver_python_cpu_s": round(time.process_time() - c0, 2),
        "passes": passes,
    }
    text = json.dumps(profile, indent=1)
    if opts.out:
        with open(opts.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    spark.stop()
    return 1 if any("error" in q for p in passes
                    for q in p["queries"].values()) else 0


if __name__ == "__main__":
    sys.exit(main())
