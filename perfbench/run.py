#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json and
perfbench/NOTES.md for why each exists and what it should move):

- ``queries_cold``  the 16 headline registry queries, each constructed and
  executed to the noop sink after ``spark.catalog.clearCache()``; closed
  loop, one query at a time, seeded order per pass.
- ``replay_stream`` unpaced streamed replay of NDJSON shards with seeded
  cross-batch stragglers through the durable reorder gate, partitioned
  senders and a Kinesis-shaped sink that rejects a seeded subset once.

Every input is generated from ``--seed`` inside a scratch directory of the
checkout (``.perfbench_work/``, removed at exit). Outputs are checked on
every run outside the timers. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The line
before it reports each workload's own figures under their usual names.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import audit, datagen, host  # noqa: E402
from perfbench.sink import (  # noqa: E402
    MAX_RECORDS_PER_REQUEST, JournalSinkFactory, fails_first_attempt)
from perfbench.trace import Tracer  # noqa: E402

NCPU = len(os.sched_getaffinity(0))

#: bench.py's HEADLINE entries: relational, event-time, replay-plan,
#: dedup and similarity operators.
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q14_promo_effect", "agg_events_by_type", "window_rate_stats",
    "order_by_event_time", "batch_assignment", "replay_plan",
    "ngram_jaccard_dedup", "minhash_dedup", "ann_topk_cosine",
    "doc_text_profile", "doc_train_split", "dedup_embedding_cosine",
    "training_data_pipeline",
]
QUERY_SF = 0.01
STREAM_ROWS, STREAM_SHARDS, STREAM_STRAGGLERS = 9_000, 3, 200
#: Unpaced: every record is due at query start.
STREAM_SPEEDUP = 1e12
#: The gate holds back the newest rows of each batch, more than the
#: stragglers' window (datagen.shard_plan).
READER_BUFFER = 2 * STREAM_STRAGGLERS + 50
#: Timed units per run. A fixed count, so every run measures the same
#: units at the same places after the warm-up: each unit costs less than
#: the one before while the JIT warms. One pass (10-15 s) or two replays
#: (5-9 s each) keep a full comparison of both workloads inside the
#: benchmark's time budget.
UNITS = {"queries_cold": 1, "replay_stream": 2}
#: Records the sink rejects on first offer, per 10,000.
FAIL_PER_10K = 50
#: The driver JVM's heap is fixed in size (initial = max, fixed young
#: generation) so its resident peak does not ride on adaptive resizing.
DRIVER_HEAP, DRIVER_YOUNG = "1g", "256m"
LAYERS = ("session", "tables", "plans", "spark", "sources", "replay",
          "fsutil", "sinks")
PKG = "amazon_kinesis_replay_spark"
#: Spans of traced runs and the last untraced run's figures.
OUT = os.path.join(ROOT, ".perfbench_out")


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.work = work
        self.spark = None
        self.tracer = Tracer(f"{args.workload}-{args.seed}") \
            if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.end_to_end: dict[str, float] = {}
        self.per_layer: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.units: list[dict] = []
        self.t_begin = time.perf_counter()

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def log(self, what: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t_begin:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)

    def enough(self, t_start: float) -> bool:
        """Units run until --seconds have passed and the workload's UNITS
        are done; only those UNITS enter the figures."""
        done = time.perf_counter() - t_start >= self.args.seconds
        return done and len(self.units) >= UNITS[self.args.workload]

    def measured(self) -> list[dict]:
        return self.units[:UNITS[self.args.workload]]


# -- set-up --------------------------------------------------------------------

def quiesce(spark) -> None:
    """Before each timed unit, outside the timers: drop cached relations
    and collect garbage in both processes, so each unit pays for its own
    memory."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    gc.collect()


def _build_session():
    from amazon_kinesis_replay_spark.session import (
        build_spark, ensure_engine_conf)
    spark = build_spark("perfbench")
    ensure_engine_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 10_000, numPartitions=NCPU).selectExpr("sum(id)").collect()
    return spark


def setup(run: Run, warm_up) -> None:
    """Build the session, which launches the JVM, then run the workload's
    warm-up. setup_s is the processor time of both, like pass_cpu_s; the
    report line has their wall time."""
    c0, t0 = host.tree_cpu_s(), time.perf_counter()
    run.spark = _build_session()
    c1, t1 = host.tree_cpu_s(), time.perf_counter()
    run.log("session built")
    warm_up()
    c2, t2 = host.tree_cpu_s(), time.perf_counter()
    run.log("warmed up")
    run.per_layer["session.build_s"] = c1 - c0
    run.per_layer["session.warmup_s"] = c2 - c1
    run.end_to_end["setup_s"] = c2 - c0
    run.report["setup_wall_s"] = _m(t2 - t0, "s", build=t1 - t0,
                                    warm_up=t2 - t1)


# -- queries_cold ----------------------------------------------------------------

def queries_cold(run: Run) -> None:
    data = run.dir("tables")
    rows = datagen.make_tables(data, run.seed, QUERY_SF)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data
    from amazon_kinesis_replay_spark.plans import QUERIES

    results: dict[str, object] = {}

    def warm_up():
        # the warm-up pass collects every result for the oracle check
        for name in datagen.query_order(HEADLINE, run.seed, 0):
            run.spark.catalog.clearCache()
            try:
                df = QUERIES[name].fn(run.spark, data)
                results[name] = (df.columns, df.collect())
            except Exception as exc:  # noqa: BLE001 - reported, counted
                results[name] = exc

    run.log("tables written")
    setup(run, warm_up)
    duck_s = _check_oracles(run, QUERIES, data, results)
    run.log("oracles checked")

    spark = run.spark
    sc = spark.sparkContext
    per_query = {n: [] for n in HEADLINE}
    t_start = time.perf_counter()
    unit = 0
    traced = run.tracer is not None
    while not run.enough(t_start):
        if traced:
            _install_query_tracing(run)
        latencies = {}
        quiesce(spark)
        cpu0 = host.tree_cpu_s()
        for name in datagen.query_order(HEADLINE, run.seed, unit + 1):
            spark.catalog.clearCache()
            group, calls = f"perfbench-{unit}-{name}", 0
            span = run.tracer.span if traced else _no_span
            if traced:
                sc.setJobGroup(group, name)
                calls0 = run.tracer.counts.get("py4j", 0)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with span(name, "plans"):
                    df = QUERIES[name].fn(spark, data)
                t1 = time.perf_counter()
                if traced:
                    calls = run.tracer.counts.get("py4j", 0) - calls0
                with span(name, "spark"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - reported, counted
                run.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                t1 = time.perf_counter()
            t2 = time.perf_counter()
            latencies[name] = t2 - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs, tasks = _jobs_and_tasks(sc, group)
                per_query[name].append({
                    "construct_s": t1 - t0, "exec_s": t2 - t1,
                    "py4j_calls": calls, "jobs": jobs, "tasks": tasks})
        if traced:
            run.tracer.unpatch()
        run.units.append({"pass_s": sum(latencies.values()),
                          "cpu_s": host.tree_cpu_s() - cpu0,
                          "latencies": latencies})
        run.log(f"pass {unit} done")
        unit += 1

    measured = run.measured()
    pass_s = audit.median([u["pass_s"] for u in measured])
    cpu_s = audit.median([u["cpu_s"] for u in measured])
    # each query's latency is its median over the passes; percentiles are
    # over the 16 queries, so p99 is the slowest query
    latency = {n: audit.median([u["latencies"][n] for u in measured])
               for n in HEADLINE}
    lat = list(latency.values())
    run.end_to_end.update(pass_s=pass_s, pass_cpu_s=cpu_s)
    run.report.update({
        "queries_pass_s": _m(pass_s, "s", passes=len(measured)),
        "queries_pass_cpu_s": _m(cpu_s, "s", passes=len(measured)),
        "query_latency_p50_s": _m(audit.median(lat), "s", queries=len(lat)),
        "query_latency_p99_s": _m(audit.percentile(lat, 0.99), "s",
                                  queries=len(lat)),
        "query_latency_s": {n: round(v, 4) for n, v in latency.items()},
        "baseline.duckdb_pass_s": _m(duck_s, "s"),
        "table_rows": rows,
    })
    run.per_layer["baseline.duckdb_pass_s"] = duck_s
    if run.tracer:
        for name, samples in per_query.items():
            for key in ("construct_s", "exec_s", "py4j_calls", "jobs",
                        "tasks"):
                run.per_layer[f"{key}.{name}"] = audit.median(
                    [s[key] for s in samples])


def _no_span(name: str, layer: str):
    return contextlib.nullcontext()


def _check_oracles(run: Run, queries, data: str, results: dict) -> float:
    """Compare each warm-up result with its DuckDB oracle (single-threaded,
    the baseline engine); return the oracles' total time."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data, t)}.parquet'")
        total = 0.0
        for name in HEADLINE:
            run.attempted += 1
            oracle = queries[name].oracle
            sql = oracle() if callable(oracle) else oracle
            t0 = time.perf_counter()
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            total += time.perf_counter() - t0
            res = results[name]
            if isinstance(res, Exception):
                run.fail(f"{name}: {type(res).__name__}: {res}"[:300])
                continue
            problems = audit.compare_to_oracle(res[0], res[1], ocols, orows)
            if problems:
                run.fail(f"{name}: {'; '.join(problems)}")
        return total
    finally:
        con.close()


def _install_query_tracing(run: Run) -> None:
    from py4j import clientserver, java_gateway

    from amazon_kinesis_replay_spark import session, tables
    t = run.tracer
    t.wrap_function(tables.load, "tables", PKG)
    t.wrap_function(session.ensure_engine_conf, "session", PKG)
    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        if "send_command" in vars(cls):
            t.count_calls(cls, "send_command", "py4j")


def _jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(job_ids), tasks


# -- replay_stream ------------------------------------------------------------------

class ReplayInput:
    """Seeded NDJSON shards plus what the audit needs to know about them."""

    def __init__(self, run: Run):
        n = STREAM_ROWS
        ev = datagen.events_columns(run.seed, n)
        self.n = n
        self.ts_s = datagen.ts_seconds(ev["ts"])
        self.src = run.dir("shards")
        datagen.write_shards(self.src, datagen.ndjson_lines(ev),
                             datagen.shard_plan(run.seed, n, STREAM_SHARDS,
                                                STREAM_STRAGGLERS))
        self.planned_failures = sum(
            fails_first_attempt(i, run.seed, FAIL_PER_10K) for i in range(n))


def _replay(run: Run, src: str, tag: str, traced: bool = False) -> dict:
    """One streamed replay from query start until finalize() returns."""
    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources import ndjson
    from amazon_kinesis_replay_spark.streaming.replay import (
        ReplayEngine, run_replay_stream)
    journal = run.dir(tag, "journal")
    cfg = ReplayConfig(
        source_path=src, speedup_factor=STREAM_SPEEDUP,
        sender_threads=NCPU, max_records_per_request=MAX_RECORDS_PER_REQUEST,
        backoff_base_ms=1, max_backoff_ms=2,
        reorder_across_batches=True, reader_buffer_size=READER_BUFFER,
        reorder_state_path=os.path.join(run.dir(tag), "state"))
    sinks = JournalSinkFactory(journal, run.seed, FAIL_PER_10K)
    engine = ReplayEngine(cfg, sinks, mode="partitioned")
    process_batch = engine.process_batch

    def numbered_process_batch(batch_df, batch_id):
        sinks.batch = batch_id
        process_batch(batch_df, batch_id)

    engine.process_batch = numbered_process_batch
    batches: list[dict] = []
    out = {"journal": journal, "engine": engine, "batches": batches,
           "error": None}
    if traced:
        _install_replay_tracing(run, engine, batches)
    t = run.tracer if traced else None
    out["cpu0"] = host.tree_cpu_s()
    out["t0"] = time.time()
    try:
        with (t.span if t else _no_span)(tag, "sources") as span:
            if t:
                t.default_parent = span.sid
            stream = ndjson.read_events_stream(run.spark, cfg,
                                               max_files_per_trigger=1)
            query = run_replay_stream(stream, engine,
                                      os.path.join(run.dir(tag), "ckpt"))
            query.awaitTermination()
        if t:
            t.default_parent = None
        sinks.batch += 1          # finalize drains the gate as one more batch
        engine.finalize()
    except Exception as exc:  # noqa: BLE001 - a raising run fails all rows
        out["error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        out["t1"] = time.time()
        out["cpu_s"] = host.tree_cpu_s() - out["cpu0"]
        if t:
            t.unpatch()
    return out


def _install_replay_tracing(run: Run, engine, batches: list) -> None:
    from amazon_kinesis_replay_spark import fsutil
    t = run.tracer
    sc = run.spark.sparkContext
    process_batch = engine.process_batch

    def traced_process_batch(batch_df, batch_id):
        tracker = sc.statusTracker()
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = set(tracker.getJobIdsForGroup(group))
        with t.span(f"process_batch[{batch_id}]", "replay") as span:
            process_batch(batch_df, batch_id)
        jobs = len(set(tracker.getJobIdsForGroup(group)) - before)
        batches.append({"sid": span.sid, "start": span.start,
                        "end": span.end, "jobs": jobs})

    t._patch(engine, "process_batch", traced_process_batch)
    t.wrap_method(engine, "finalize", "replay")
    for name in ("read_applied_batch", "has_committed_output", "listdir",
                 "delete", "exists"):
        t.wrap_function(getattr(fsutil, name), "fsutil", PKG)


def _audit_replay(run: Run, inp: ReplayInput, res: dict) -> dict:
    """Check one replay's deliveries and reduce it to its figures."""
    t0 = res["t0"]
    run.attempted += inp.n
    if res["error"]:
        run.fail(f"replay raised: {res['error']}", inp.n)
        return {}
    journals = audit.read_journals(res["journal"])
    d = audit.audit_delivery(journals, inp.n, inp.ts_s,
                             t0 + inp.ts_s / STREAM_SPEEDUP,
                             MAX_RECORDS_PER_REQUEST)
    bad = (d.missing + d.duplicates + d.order_violations
           + d.batch_order_violations)
    if bad or d.cap_violations:
        run.fail(f"delivery: {', '.join(d.problems)}", bad)
    if d.retried != inp.planned_failures:
        run.fail(f"retried {d.retried} != planned {inp.planned_failures}")
    sent = res["engine"].stats.sink.records_sent
    if sent != inp.n:
        run.fail(f"engine reports {sent} records sent, input {inp.n}")
    fig = {
        "pass_s": res["t1"] - t0,
        "cpu_s": res["cpu_s"],
        "first_emit_s": d.first_arrival - t0,
        "lateness_p50_s": audit.percentile(d.lateness, 0.5),
        "lateness_p99_s": audit.percentile(d.lateness, 0.99),
        "lateness_samples": int(d.lateness.size),
        "requests": d.requests,
        "records_per_request": d.offered / max(1, d.requests),
        "retried": d.retried,
        "duplicates": d.duplicates,
        "accepted": d.accepted,
        "offered": d.offered,
    }
    if res["batches"]:
        fig.update(_batch_figures(run, res, journals))
    return fig


def _batch_figures(run: Run, res: dict, journals: list) -> dict:
    """Per-micro-batch figures of a traced replay; also adds the sink's
    journaled puts as executor-side spans under the replay span that
    contains them."""
    t = run.tracer
    batches = sorted(res["batches"], key=lambda b: b["start"])
    replay_spans = [s for s in t.spans
                    if s.layer == "replay" and s.start >= res["t0"]]
    for puts in journals:
        for put in puts:
            parent = next((s.sid for s in replay_spans
                           if s.start <= put["t0"] <= s.end), None)
            t.add("put_records", "sinks", put["t0"], put["t1"], parent)
    gaps = [b["start"] - a["end"] for a, b in zip(batches, batches[1:])]
    fin = [s for s in replay_spans if s.name.endswith(".finalize")]
    return {
        "stream.batches": len(batches),
        "stream.trigger_gap_s": audit.median(gaps) if gaps else 0.0,
        "replay.process_batch_s": audit.median(
            [b["end"] - b["start"] for b in batches]),
        "replay.jobs_per_batch": sum(b["jobs"] for b in batches)
        / len(batches),
        "replay.finalize_s": sum(s.end - s.start for s in fin),
    }


def replay_stream(run: Run) -> None:
    inp = ReplayInput(run)
    warm: list[dict] = []

    def warm_up():
        warm.append(_replay(run, inp.src, "warm"))

    setup(run, warm_up)
    _audit_replay(run, inp, warm[0])
    t_start = time.perf_counter()
    unit = 0
    traced = run.tracer is not None
    while not run.enough(t_start):
        quiesce(run.spark)
        res = _replay(run, inp.src, f"replay-{unit}", traced)
        fig = _audit_replay(run, inp, res)
        run.units.append(fig)
        run.log(f"replay {unit} done")
        unit += 1
        if not fig:
            break

    measured = [u for u in run.measured() if "pass_s" in u]
    if not measured:
        raise RuntimeError("no replay completed: " + "; ".join(run.problems))

    def med(key):
        return audit.median([u[key] for u in measured])

    run.end_to_end.update(pass_s=med("pass_s"), pass_cpu_s=med("cpu_s"))
    samples = measured[0]["lateness_samples"]
    all_units = [u for u in run.units if "pass_s" in u]
    accepted = sum(u["accepted"] for u in all_units)
    offered = sum(u["offered"] for u in all_units)
    run.report.update({
        "replay_events_per_s": _m(inp.n / med("pass_s"), "events/s",
                                  rows=inp.n),
        "replay_s": _m(med("pass_s"), "s", replays=len(measured)),
        "replay_cpu_s": _m(med("cpu_s"), "s", replays=len(measured)),
        "first_emit_s": _m(med("first_emit_s"), "s"),
        "lateness_p50_s": _m(med("lateness_p50_s"), "s", samples=samples),
        "lateness_p99_s": _m(med("lateness_p99_s"), "s", samples=samples),
        # equal to expected whenever the retried == planned check passes
        "sink.accepted_ratio": _m(
            accepted / offered, "ratio", accepted=accepted, offered=offered,
            expected=inp.n / (inp.n + inp.planned_failures)),
    })
    run.per_layer.update({
        "replay.first_emit_s": med("first_emit_s"),
        "sink.requests": audit.median([u["requests"] for u in all_units]),
        "sink.records_per_request": audit.median(
            [u["records_per_request"] for u in all_units]),
        "sink.retried_records": audit.median(
            [u["retried"] for u in all_units]),
        "sink.duplicate_records": max(u["duplicates"] for u in all_units),
    })
    for key in ("stream.batches", "stream.trigger_gap_s",
                "replay.process_batch_s", "replay.jobs_per_batch",
                "replay.finalize_s"):
        vals = [u[key] for u in measured if key in u]
        if vals:
            run.per_layer[key] = audit.median(vals)


WORKLOADS = {"queries_cold": queries_cold, "replay_stream": replay_stream}

#: Every per-layer metric, in BENCHMARK.json order; the ones a workload
#: does not exercise read 0.
PER_LAYER = (
    ["session.build_s", "session.warmup_s"]
    + [f"{k}.{q}" for k in ("construct_s", "py4j_calls", "exec_s", "jobs",
                            "tasks") for q in HEADLINE]
    + ["stream.trigger_gap_s", "stream.batches", "replay.process_batch_s",
       "replay.jobs_per_batch", "replay.finalize_s", "replay.first_emit_s",
       "sink.requests", "sink.records_per_request", "sink.retried_records",
       "sink.duplicate_records", "baseline.duckdb_pass_s"]
    + [f"self_s.{layer}" for layer in LAYERS]
    + ["trace.pass_s", "trace.pass_cpu_s", "trace.overhead_pass_s",
       "trace.overhead_cpu_s", "noise.steal_pct", "noise.load1"])
#: The end-to-end metrics. Wall times and latency percentiles stay in the
#: report line: in a busy spell of the shared host they spread by more
#: than 40% between runs, CPU times by about 15% (perfbench/NOTES.md).
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {"py4j_calls": "count", "jobs": "count", "tasks": "count",
                   "stream.batches": "count", "replay.jobs_per_batch": "count",
                   "sink.requests": "count", "sink.retried_records": "count",
                   "sink.duplicate_records": "count",
                   "sink.records_per_request": "count",
                   "noise.steal_pct": "%", "noise.load1": "load"}


def per_layer_unit(name: str) -> str:
    return PER_LAYER_UNITS.get(name, PER_LAYER_UNITS.get(
        name.split(".")[0], "s"))


def _m(value, unit, **base):
    return {"value": value, "unit": unit, **base}


def _end_to_end_file(workload: str) -> str:
    return os.path.join(OUT, f"end_to_end-{workload}.json")


def _save_end_to_end(run: Run) -> None:
    """An untraced run leaves its figures for the traced run to compare."""
    os.makedirs(OUT, exist_ok=True)
    with open(_end_to_end_file(run.args.workload), "w") as fh:
        json.dump({"seed": run.seed, **run.end_to_end}, fh)


def _finish_tracing(run: Run) -> None:
    """Every unit of a traced run is traced; its overhead is its figures
    minus those of the last untraced run of the workload in this
    checkout (0 if there was none)."""
    units = [u for u in run.units if "pass_s" in u]
    for key in ("pass_s", "pass_cpu_s"):
        run.per_layer[f"trace.{key}"] = run.end_to_end.get(key, 0.0)
    try:
        with open(_end_to_end_file(run.args.workload)) as fh:
            untraced = json.load(fh)
    except (OSError, ValueError):
        untraced = None
    if untraced and "pass_s" in run.end_to_end:
        run.per_layer["trace.overhead_pass_s"] = (
            run.end_to_end["pass_s"] - untraced["pass_s"])
        run.per_layer["trace.overhead_cpu_s"] = (
            run.end_to_end["pass_cpu_s"] - untraced["pass_cpu_s"])
        run.report["trace_overhead_against_seed"] = untraced["seed"]
    for layer, total in run.tracer.self_times().items():
        run.per_layer[f"self_s.{layer}"] = total / max(1, len(units))
    out = os.path.join(OUT, f"spans-{run.args.workload}-{run.seed}.jsonl")
    os.makedirs(OUT, exist_ok=True)
    with open(out, "w") as fh:
        for s in run.tracer.spans:
            fh.write(json.dumps(vars(s)) + "\n")
    print(f"spans written to {os.path.relpath(out, ROOT)}", file=sys.stderr)


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    import tempfile
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(NCPU),
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": (
            # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_*
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} "
            f"-Xmn{DRIVER_YOUNG} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def _shutdown(run: Run) -> None:
    """Stop the session and the JVM this process launched, and wait for
    it to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    run.spark.stop()
    run.spark = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import amazon_kinesis_replay_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    run = Run(args, work)
    cpu0 = host.cpu_times()
    try:
        WORKLOADS[args.workload](run)
        rss = host.peak_rss_mb()
        run.end_to_end["peak_rss_mb"] = sum(rss.values())
        run.report["peak_rss_parts_mb"] = rss
    finally:
        _shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
        run.log("shut down")
    noise = host.noise(cpu0, host.cpu_times())
    run.per_layer.update({f"noise.{k}": v for k, v in noise.items()})
    if run.tracer:
        _finish_tracing(run)
    elif not run.failed:
        _save_end_to_end(run)
    base = max(1, run.attempted)
    run.report.update({
        "workload": args.workload, "seed": args.seed, "cpus": NCPU,
        "setup_s": _m(run.end_to_end["setup_s"], "s"),
        "peak_rss_mb": _m(run.end_to_end["peak_rss_mb"], "MB"),
        "failed_ratio": _m(run.failed / base, "ratio", failed=run.failed,
                           attempted=run.attempted),
        "noise": noise,
        "units_pass_s": [round(u["pass_s"], 3) for u in run.units
                         if "pass_s" in u],
        "units_cpu_s": [round(u["cpu_s"], 3) for u in run.units
                        if "cpu_s" in u],
        "units_measured": UNITS[args.workload],
        "problems": run.problems[:20],
    })
    print(json.dumps({"report": run.report}, default=float))
    if args.trace:
        metrics = {k: _m(float(run.per_layer.get(k, 0.0)), per_layer_unit(k))
                   for k in PER_LAYER}
    else:
        metrics = {k: _m(float(run.end_to_end[k]), u)
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": run.failed == 0 and not run.problems,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
