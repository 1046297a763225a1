"""End-to-end streaming replay (SURVEY §5.2 item 4): NDJSON fixture ->
Structured Streaming source -> paced foreachBatch sink, with behavioral
assertions on ordering, batching, pacing, and statistics."""

import collections
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.config import ReplayConfig
from amazon_kinesis_replay_spark.sources import ndjson
from amazon_kinesis_replay_spark.streaming.replay import (
    ReplayEngine, run_replay_stream)
from amazon_kinesis_replay_spark.streaming.sinks import InMemorySink
from amazon_kinesis_replay_spark.tables import load

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def stream_fixture(spark, sf_dir, tmp_path_factory):
    """Ordered NDJSON corpus split into 4 files, with bounded out-of-order
    rows inside each file (the reference's input contract allows disorder
    the 100k buffer can absorb; README.md:20)."""
    root = tmp_path_factory.mktemp("stream")
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(400).collect())
    files = 4
    per = len(rows) // files
    import os
    for fi in range(files):
        chunk = rows[fi * per:(fi + 1) * per]
        # bounded disorder: swap adjacent pairs
        for i in range(0, len(chunk) - 1, 2):
            chunk[i], chunk[i + 1] = chunk[i + 1], chunk[i]
        fpath = root / f"part-{fi:03d}.json"
        with open(fpath, "w") as fh:
            for r in chunk:
                fh.write(json.dumps({
                    "event_id": r["event_id"],
                    "dropoff_datetime": r["ts"].isoformat()}) + "\n")
        # FileStreamSource orders files by MODIFICATION TIME; same-tick
        # mtimes make processing order (and the global-order assertion)
        # nondeterministic — force strictly increasing mtimes.
        os.utime(fpath, (1_700_000_000 + fi, 1_700_000_000 + fi))
    span_s = (rows[-1]["ts"] - rows[0]["ts"]).total_seconds()
    return str(root), len(rows) // files * files, span_s


def test_driver_mode_replay(spark, stream_fixture, tmp_path):
    path, n_events, span_s = stream_fixture
    # speedup so the whole replay paces out to ~1.5 s of wall clock
    speedup = span_s / 1.5
    cfg = ReplayConfig(source_path=path, speedup_factor=speedup,
                       max_records_per_request=64)
    sink = InMemorySink()
    engine = ReplayEngine(cfg, sink, mode="driver")
    events = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    import time
    t0 = time.monotonic()
    q = run_replay_stream(events, engine, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    elapsed = time.monotonic() - t0

    # every event delivered exactly once
    sent = [r for b in sink.batches for r in b]
    assert len(sent) == n_events
    assert engine.stats.total_events == n_events
    # batching: every request <= max_records_per_request (OP-SINK-KINESIS)
    assert max(len(b) for b in sink.batches) <= 64
    # ordering: emission nondecreasing in ts within each micro-batch
    # (per-batch sort; OP-SORT-EVENTTIME)
    ts_seq = [r["ts"] for r in sent]
    assert ts_seq == sorted(ts_seq)  # maxFilesPerTrigger=1 + ordered files
    # pacing: wall time at least most of the paced span (OP-RATE-PACE);
    # generous slack — under parallel-suite load trigger scheduling can
    # overlap the pacing sleeps
    assert elapsed >= 1.0
    # watermark stat tracks the max emitted event time (OP-AGG-MAXWM)
    assert engine.stats.max_emitted_ts.isoformat() == max(ts_seq)


def test_driver_mode_refuses_oversized_batch(spark, sf_dir):
    """Driver mode collect()s the batch for exact global pacing; above the
    configured row bound it must refuse with partitioned-mode guidance
    BEFORE collecting, not OOM."""
    import pytest
    from pyspark.sql import functions as F

    from amazon_kinesis_replay_spark.tables import load
    events = load(spark, sf_dir, "events").select(
        F.col("props").alias("payload"), "ts")
    cfg = ReplayConfig(speedup_factor=1e12, driver_mode_max_rows=100)
    engine = ReplayEngine(cfg, InMemorySink(), mode="driver")
    with pytest.raises(ValueError, match="partitioned"):
        engine.process_batch(events, 0)
    assert engine.stats.total_events == 0          # nothing was emitted
    # under the bound the same engine config replays normally
    ok = ReplayEngine(cfg, InMemorySink(), mode="driver")
    ok.process_batch(events.limit(50), 0)
    assert ok.stats.total_events == 50


def test_partitioned_mode_replay(spark, stream_fixture, tmp_path):
    path, n_events, span_s = stream_fixture
    out_dir = tmp_path / "sink"
    cfg = ReplayConfig(source_path=path, speedup_factor=span_s / 0.5,
                       sender_threads=4, max_records_per_request=50)
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink
    engine = ReplayEngine(cfg, lambda: FileSink(str(out_dir)),
                          mode="partitioned")
    events = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=2)
    q = run_replay_stream(events, engine, str(tmp_path / "ckpt2"))
    q.awaitTermination(120)

    sent = []
    for f in sorted(out_dir.glob("*.ndjson")):
        with open(f) as fh:
            sent.extend(json.loads(line) for line in fh)
    assert len(sent) == n_events
    # all request files respect the batch cap
    # (request = one file; per-partition chunking)
    import collections
    per_file = collections.Counter()
    for f in out_dir.glob("*.ndjson"):
        per_file[f.name] = sum(1 for _ in open(f))
    assert max(per_file.values()) <= 50
    # executor-side SinkStats flow back to the driver via accumulators:
    # the end-of-run summary must reflect partitioned-mode sends
    assert engine.stats.total_events == n_events
    assert engine.stats.sink.records_sent == n_events
    assert engine.stats.sink.requests == len(per_file)
    assert engine.stats.max_emitted_ts is not None
    # the senders' lag rides back in their stats rows (OP-AGG-LAG): the
    # micro-batch launch alone makes the first records late
    assert engine.stats.max_lag_s > 0


def test_watermark_folds_before_send(spark):
    """Each request's watermark is folded into the stats BEFORE it is
    sent: a sink that fails every attempt leaves OP-AGG-MAXWM at the last
    record of the first request, the one handed to the send path."""
    import datetime as dt

    from amazon_kinesis_replay_spark.streaming.sinks import SinkError
    base = dt.datetime(2024, 1, 1)
    rows = [(f"e{i}", base + dt.timedelta(seconds=i)) for i in range(10)]
    batch = spark.createDataFrame(rows, "payload string, ts timestamp")
    cfg = ReplayConfig(speedup_factor=1e12, max_records_per_request=4,
                       max_retries=2, backoff_base_ms=1, max_backoff_ms=1)
    sink = InMemorySink(fail_plan={i: list(range(4)) for i in range(3)})
    engine = ReplayEngine(cfg, sink, mode="driver")
    with pytest.raises(SinkError):
        engine.process_batch(batch, 0)
    assert engine.stats.max_emitted_ts.isoformat() == \
        "2024-01-01T00:00:03"
    assert engine.stats.sink.records_sent == 0


def test_partitioned_batch_is_single_computation(spark, sf_dir, tmp_path):
    """Once the anchor exists, the emit path must run exactly ONE job per
    micro-batch — the emit action itself; the watermark rides back in the
    kernel's per-partition stats rows. The first-ever batch may add one
    min-only aggregate to establish the anchor (and nothing else: round-
    robin repartition has no range-sampling pass). More jobs means the
    shuffle pipeline is being computed twice (the round-1 count()-then-emit
    bug ran 5; the round-3 min/max agg ran the bounds scan every batch)."""
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink
    out_dir = tmp_path / "sink"
    cfg = ReplayConfig(speedup_factor=1e12, sender_threads=4,
                       max_records_per_request=100)
    engine = ReplayEngine(cfg, lambda: FileSink(str(out_dir)),
                          mode="partitioned")
    # filter, not limit: CollectLimit executes incrementally (extra jobs)
    batch = (load(spark, sf_dir, "events")
             .filter(F.col("event_id") % 3 == 0)
             .select(F.col("props").alias("payload"), "ts"))
    expected_n = batch.count()
    sc = spark.sparkContext
    # AQE runs each query stage as its own job, which makes raw job counts
    # depend on plan internals; without it the mapping is deterministic.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("replay-first-batch", "anchor + emit")
        engine.process_batch(batch, 0)
        sc.setJobGroup("replay-steady-batch", "emit only")
        engine.process_batch(batch, 1)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    first = sc.statusTracker().getJobIdsForGroup("replay-first-batch")
    steady = sc.statusTracker().getJobIdsForGroup("replay-steady-batch")
    assert len(first) == 2, \
        f"expected 2 jobs on the anchoring batch (min agg + emit), got {len(first)}"
    assert len(steady) == 1, \
        f"expected 1 job on an anchored batch (emit only), got {len(steady)}"
    assert engine.stats.total_events == 2 * expected_n
    assert engine.stats.sink.records_sent == 2 * expected_n

    # with an explicit anchor (the 100 TB path: the seek position is
    # known), even the first batch is a single job
    out2 = tmp_path / "sink2"
    anchored = ReplayEngine(
        ReplayConfig(speedup_factor=1e12, sender_threads=4,
                     max_records_per_request=100,
                     anchor_ts="2020-01-01T00:00:00"),
        lambda: FileSink(str(out2)), mode="partitioned")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("replay-anchored-first", "emit only")
        anchored.process_batch(batch, 0)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    jobs = sc.statusTracker().getJobIdsForGroup("replay-anchored-first")
    assert len(jobs) == 1, \
        f"expected 1 job with cfg.anchor_ts set, got {len(jobs)}"
    assert anchored.stats.total_events == expected_n


def test_stats_windows(spark, stream_fixture, tmp_path):
    path, n_events, span_s = stream_fixture
    cfg = ReplayConfig(source_path=path, speedup_factor=span_s / 0.2,
                       statistics_frequency_ms=100)
    sink = InMemorySink()
    engine = ReplayEngine(cfg, sink, mode="driver")
    events = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=4)
    q = run_replay_stream(events, engine, str(tmp_path / "ckpt3"))
    q.awaitTermination(120)
    # tumbling processing-time windows recorded (OP-AGG-WINDOWCOUNT):
    # counts conserve events modulo the still-open last window
    recorded = sum(n for _, n, _ in engine.stats.window_counts)
    assert recorded <= engine.stats.total_events == n_events


def test_reorder_buffer_repairs_cross_batch_disorder(spark, sf_dir,
                                                     tmp_path):
    """r8: the reference holds a 100k-event priority queue that repairs
    input disorder ACROSS reads (JsonEventBufferedReader.java:39) — the
    engine's per-batch sort cannot see disorder that straddles a
    micro-batch boundary. With reorder_across_batches on, an event
    arriving one batch late but within `reader_buffer_size` positions is
    emitted in global ts order; with it off, it is emitted late (the
    documented deviation). Nothing is ever dropped either way."""
    events = (load(spark, sf_dir, "events")
              .select(F.col("props").alias("payload"), "ts")
              .orderBy("ts").limit(300))
    rows = events.collect()
    # split into 3 "micro-batches" with disorder across the boundary:
    # each batch leaks its 10 EARLIEST events into the NEXT batch
    b = [rows[0:100], rows[100:200], rows[200:300]]
    leak0, b[0] = b[0][:10], b[0][10:]
    leak1, b[1] = b[1][:10], b[1][10:] + leak0
    b[2] = b[2] + leak1

    def run(reorder: bool):
        # a leaked event is seen ~100 positions late (a full batch), so
        # the window must exceed that — mirroring the reference's rule
        # that the queue must cover the input's maximum disorder
        cfg = ReplayConfig(
            speedup_factor=1e12, reader_buffer_size=150,
            reorder_across_batches=reorder,
            reorder_state_path=str(tmp_path / "reorder-state"))
        sink = InMemorySink()
        engine = ReplayEngine(cfg, sink, mode="driver")
        for i, batch in enumerate(b):
            engine.process_batch(
                spark.createDataFrame(batch, events.schema), i)
        engine.finalize()
        return [r["ts"] for batch in sink.batches for r in batch], engine

    ordered, eng = run(reorder=True)
    assert len(ordered) == 300                      # nothing dropped
    assert ordered == sorted(ordered)               # global order repaired
    assert eng.stats.total_events == 300
    # finalize is idempotent (a second drain emits nothing)
    eng.finalize()
    assert eng.stats.total_events == 300

    late, _ = run(reorder=False)
    assert len(late) == 300                         # still nothing dropped
    assert late != sorted(late)                     # disorder leaks through


def test_reorder_buffer_beyond_window_emits_late_not_dropped(spark,
                                                             sf_dir,
                                                             tmp_path):
    """Disorder LARGER than the buffer window: the reference emits the
    too-late event as soon as it is next polled (out of order, never
    dropped) — the gate must do the same, not hold it forever."""
    events = (load(spark, sf_dir, "events")
              .select(F.col("props").alias("payload"), "ts")
              .orderBy("ts").limit(120))
    rows = events.collect()
    # the globally-earliest event arrives LAST, 119 positions late —
    # beyond a 20-row buffer
    shifted = rows[1:] + rows[:1]
    cfg = ReplayConfig(speedup_factor=1e12, reader_buffer_size=20,
                       reorder_across_batches=True,
                       reorder_state_path=str(tmp_path / "reorder-state"))
    sink = InMemorySink()
    engine = ReplayEngine(cfg, sink, mode="driver")
    for i in range(0, 120, 40):
        engine.process_batch(
            spark.createDataFrame(shifted[i:i + 40], events.schema), i)
    engine.finalize()
    emitted = [r["ts"] for batch in sink.batches for r in batch]
    assert len(emitted) == 120
    assert min(emitted) == rows[0]["ts"].isoformat()   # late, not lost
    assert emitted != sorted(emitted)   # beyond-window disorder survives


@pytest.mark.slow
@pytest.mark.loadsensitive
def test_partitioned_pacing_fidelity_p99(spark, sf_dir, tmp_path):
    """r8 verdict task 5: QUANTIFY the engine's #1 documented deviation —
    pacing per partition-chunk instead of per event (reference:
    RePlayer.java:136-140 sleeps before every single send). Replays the
    full events fixture in partitioned mode at a speedup that paces the
    whole span into ~5 s and measures per-record |emit_wall - target|
    against the engine's own affine schedule (anchor + offset/speedup):

    - NO record is ever emitted EARLY (the sleep loop runs before the
      sink hand-off) — early emission would be a correctness bug, not a
      granularity artifact.
    - STEADY-STATE lateness (records due >=0.3 s after their sender
      started, excluding the one-time micro-batch launch latency) is
      bounded by the sink-buffer window: with max_records_per_request=25
      at ~50 rec/s/sender the buffer spans ~0.5 s; measured on this
      fixture p50~0.25 s / p99~0.6 s across repeated runs. Pinned at 3x
      / 2x margins for co-tenant noise.

    The one-time launch latency (~0.3-1.3 s warm) is Spark's micro-batch
    scheduling floor — reported in docs/DEVIATIONS.md, not asserted, as
    it is environment- not plan-determined."""
    import datetime as dt
    import glob
    import json as js
    import os
    import time

    from conftest import run_load_sensitive

    events = load(spark, sf_dir, "events").select(
        F.col("props").alias("payload"), "ts")
    row = events.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")) \
        .collect()[0]
    span_s = (row["mx"] - row["mn"]).total_seconds()
    anchor = row["mn"]
    speedup = span_s / 5.0
    rec_dir = str(tmp_path / "pace-rec")
    os.makedirs(rec_dir, exist_ok=True)

    class RecordingSink:
        """Executor-side sink that journals (ts, emit wall clock) to a
        per-instance NDJSON file the driver can aggregate. Identity is
        {pid}-{uuid4}: a worker that frees one partition's sink before
        creating the next can see id() reuse, which merges two senders'
        journals AND their grouping key (the r11 witness-tool bug class
        — same fix, r12 review finding)."""
        def __init__(self):
            import uuid
            self.k = f"{os.getpid()}-{uuid.uuid4().hex}"
            self.f = open(os.path.join(rec_dir, self.k + ".jsonl"), "a")

        def put_records(self, records):
            w = time.time()
            for r in records:
                self.f.write(js.dumps(
                    {"ts": r["ts"], "wall": w, "k": self.k}) + "\n")
            self.f.flush()
            return []

    def body():
        # warm the Python workers so the measured run's launch latency
        # is the steady micro-batch floor, not one-time worker startup;
        # the cleanup also clears any journals a failed attempt left
        warm = ReplayEngine(
            ReplayConfig(speedup_factor=1e12, sender_threads=4),
            RecordingSink, mode="partitioned")
        warm.process_batch(events, 0)
        for fp in glob.glob(rec_dir + "/*.jsonl"):
            os.unlink(fp)

        cfg = ReplayConfig(speedup_factor=speedup, sender_threads=4,
                           max_records_per_request=25,
                           anchor_ts=anchor.isoformat())
        engine = ReplayEngine(cfg, RecordingSink, mode="partitioned")
        t0 = time.time()
        engine.process_batch(events, 0)

        by_sender: dict = {}
        for fp in glob.glob(rec_dir + "/*.jsonl"):
            for line in open(fp):
                d = js.loads(line)
                ts = dt.datetime.fromisoformat(d["ts"])
                off = (ts - anchor).total_seconds() / speedup
                by_sender.setdefault(d["k"], []).append(
                    (off, d["wall"] - t0))
        n_total = sum(len(v) for v in by_sender.values())
        assert n_total == engine.stats.total_events > 0

        all_dev, steady = [], []
        for lst in by_sender.values():
            lst.sort()
            launch = lst[0][1] - lst[0][0]  # first-due record's lateness
            for off, wall_rel in lst:
                dev = wall_rel - off
                all_dev.append(dev)
                if off >= launch + 0.3:
                    steady.append(dev)
        all_dev.sort()
        steady.sort()
        # never early (clock-skew epsilon only)
        assert all_dev[0] >= -0.05, \
            f"record emitted early: {all_dev[0]:.3f}s"
        # warm launch must leave a measurable steady-state population
        assert len(steady) >= n_total // 5, (
            f"launch latency ate the span: {len(steady)}/{n_total} steady")
        p50 = steady[len(steady) // 2]
        p99 = steady[min(len(steady) - 1, int(len(steady) * 0.99))]
        assert p50 <= 0.75, f"steady-state p50 lateness {p50:.3f}s"
        assert p99 <= 1.2, f"steady-state p99 lateness {p99:.3f}s"

    run_load_sensitive(body)


def test_reorder_flag_needs_state_path():
    """Silently ignoring reorder_across_batches would let a user believe
    cross-batch disorder is being repaired, and an in-memory buffer
    would lose its held rows on a restart. The gate keeps them in a
    durable state dir in both modes, so the config refuses the flag
    without one, and both modes accept it with one."""
    with pytest.raises(ValueError, match="reorder_state_path"):
        ReplayConfig(speedup_factor=1e12, reorder_across_batches=True)
    cfg = ReplayConfig(speedup_factor=1e12, reorder_across_batches=True,
                       reorder_state_path="/tmp/x")
    ReplayEngine(cfg, InMemorySink(), mode="driver")
    ReplayEngine(cfg, lambda: InMemorySink(), mode="partitioned")


def test_driver_reorder_tail_must_fit_the_driver_bound():
    """finalize() paces the held tail (at least reader_buffer_size rows)
    from the driver as one frame, and driver_mode_max_rows bounds every
    frame driver mode paces, so the constructor refuses a window that
    does not fit and names both fields. Partitioned mode paces the tail
    on the executors."""
    def cfg(buffer_rows):
        return ReplayConfig(speedup_factor=1e12, reorder_across_batches=True,
                            reorder_state_path="/tmp/x",
                            reader_buffer_size=buffer_rows,
                            driver_mode_max_rows=100)
    for buffer_rows in (100, 101):
        with pytest.raises(ValueError, match="reader_buffer_size=.*"
                                             "driver_mode_max_rows=100"):
            ReplayEngine(cfg(buffer_rows), InMemorySink(), mode="driver")
        ReplayEngine(cfg(buffer_rows), lambda: InMemorySink(),
                     mode="partitioned")
    ReplayEngine(cfg(99), InMemorySink(), mode="driver")


#: Minute-spaced gate inputs: b0 holds minutes 10-99, and each batch
#: leaks its 10 earliest minutes into the next one.
GATE_BATCHES = [list(range(10, 100)),
                list(range(110, 200)) + list(range(0, 10)),
                list(range(200, 300)) + list(range(100, 110))]
GATE_BOUND = 150


def _minute_frame(spark, minutes):
    """(payload, ts) rows, payload = the minute, ts = 2020-09-13T12:26:40Z
    plus that many minutes. The timestamps are made on the JVM side, so
    no Python datetime, and no host timezone, is involved."""
    return (spark.createDataFrame([(str(m), m) for m in minutes],
                                  "payload string, m long")
            .select("payload", F.timestamp_seconds(
                F.lit(1_600_000_000) + F.col("m") * 60).alias("ts")))


def _gate_twin(batches, bound=GATE_BOUND):
    """Pure-python twin of the partitioned gate: cutoff = the bound-th
    largest value of held + batch, emit the values below it, hold the
    rest. Returns (per-batch emits, tail)."""
    held, per_batch = [], []
    for batch in batches:
        comb = sorted(held + list(batch))
        if len(comb) < bound:
            held, emit = comb, []
        else:
            cutoff = comb[len(comb) - bound]
            emit = [m for m in comb if m < cutoff]
            held = [m for m in comb if m >= cutoff]
        per_batch.append(emit)
    return per_batch, held


def _request_journal(rec_dir, crash_flag=None):
    """Sink factory that journals one line per request: the payloads and
    ts strings it was handed. While the file `crash_flag` exists, every
    request raises instead. Defined in a function so cloudpickle ships
    it to the Python workers by value."""
    import json as js
    import os
    os.makedirs(rec_dir, exist_ok=True)

    class RequestJournal:
        def __init__(self):
            self.f = open(os.path.join(
                rec_dir, f"{os.getpid()}-{id(self)}.jsonl"), "a")

        def put_records(self, records):
            if crash_flag and os.path.exists(crash_flag):
                raise RuntimeError("simulated sink crash")
            self.f.write(js.dumps([[r["payload"], r["ts"]]
                                   for r in records]) + "\n")
            self.f.flush()
            return []

    def read():
        import glob
        return [js.loads(line) for fp in glob.glob(rec_dir + "/*.jsonl")
                for line in open(fp)]

    return RequestJournal, read


def _gate_engine(tmp_path, sink, mode="partitioned"):
    """A gated engine on the GATE_BATCHES minute scale. `sink` is a
    factory; driver mode gets one instance of it, as in the CLI."""
    return ReplayEngine(
        ReplayConfig(speedup_factor=1e12, sender_threads=2,
                     reader_buffer_size=GATE_BOUND,
                     reorder_across_batches=True,
                     anchor_ts="2020-09-13T12:26:40Z",
                     reorder_state_path=str(tmp_path / "reorder-state")),
        sink if mode == "partitioned" else sink(), mode=mode)


def _emitted_minutes(requests):
    return sorted(int(p) for req in requests for p, _ in req)


def test_reorder_distributed_gate_partitioned(spark, sf_dir, tmp_path):
    """late r8: the reorder buffer carried into PARTITIONED mode — held
    state as parquet epochs, each applied once its commit marker exists.
    Pins, against a pure-python twin of the ts-cutoff poll-when-full rule:
    per-batch emit multisets, redelivery idempotence (marker skip),
    finalize drain (nothing dropped) and state-dir cleanup."""
    import os

    events = (load(spark, sf_dir, "events")
              .select(F.col("props").alias("payload"), "ts")
              .orderBy("ts").limit(300))
    rows = events.collect()
    # same cross-boundary disorder shape as the driver-mode test: each
    # batch leaks its 10 earliest events into the next batch
    b = [rows[0:100], rows[100:200], rows[200:300]]
    leak0, b[0] = b[0][:10], b[0][10:]
    leak1, b[1] = b[1][:10], b[1][10:] + leak0
    b[2] = b[2] + leak1

    JournalSink, read = _request_journal(str(tmp_path / "reorder-rec"))

    def emitted():
        return sorted(t for req in read() for _, t in req)

    # ties at the cutoff ride the buffer
    want_batches, want_tail = _gate_twin(
        [[r["ts"].isoformat() for r in batch] for batch in b])
    assert want_batches[0] == [] and want_batches[1], "fixture sanity"

    cfg = ReplayConfig(speedup_factor=1e12, sender_threads=2,
                       reader_buffer_size=GATE_BOUND,
                       reorder_across_batches=True,
                       reorder_state_path=str(tmp_path / "reorder-state"))
    engine = ReplayEngine(cfg, JournalSink, mode="partitioned")
    state_root = str(tmp_path / "reorder-state")
    seen: list = []
    for i, batch in enumerate(b):
        if i == 2:
            # orphan epoch from a simulated crash between a past commit
            # and its sweep: the next batch's sweep must remove every
            # non-current epoch
            orphan = state_root + "/held/gen=0000000000"
            os.makedirs(orphan, exist_ok=True)
            open(orphan + "/junk", "w").write("x")
            open(orphan + "/_GEN_COMMITTED", "w").write("committed\n")
        engine.process_batch(
            spark.createDataFrame(batch, events.schema), i)
        if i == 2:
            held_dirs = [d for d in os.listdir(state_root + "/held")
                         if d.startswith("gen=")]
            assert held_dirs == ["gen=0000000002"], held_dirs
        now = emitted()
        # this batch's emissions = difference vs what was seen before
        import collections
        diff = collections.Counter(now) - collections.Counter(seen)
        assert sorted(diff.elements()) == sorted(want_batches[i]), i
        seen = now
    # redelivery of an already-applied batch: commit marker skips,
    # nothing new
    engine.process_batch(spark.createDataFrame(b[1], events.schema), 1)
    assert emitted() == seen
    # finalize drains the held tail and clears the state dir
    engine.finalize()
    final = emitted()
    assert len(final) == 300                      # nothing dropped
    import collections
    tail = collections.Counter(final) - collections.Counter(seen)
    assert sorted(tail.elements()) == sorted(want_tail)
    assert not os.path.exists(str(tmp_path / "reorder-state"))
    # a second finalize is a no-op
    engine.finalize()
    assert len(emitted()) == 300


def test_reorder_gate_cutoff_ignores_host_timezone(spark, tmp_path):
    """The gate's ts cutoff comes back from Spark as a naive-UTC pandas
    Timestamp. Turned into a literal through the host clock
    (time.mktime), it moved by the host's UTC offset: under New York
    time, 4 hours later, so the gate emitted rows it should hold. Pins
    the per-batch emitted payloads against the pure-python twin with a
    non-UTC host TZ, and checks that the stats summed on the driver
    (records sent, requests, watermark) match the sink's journal after
    every batch."""
    import os
    import time

    sink, read = _request_journal(str(tmp_path / "journal"))
    engine = _gate_engine(tmp_path, sink)
    want, want_tail = _gate_twin(GATE_BATCHES)
    assert want[0] == [] and want[1] and want[2], "fixture sanity"
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        seen = []
        for i, minutes in enumerate(GATE_BATCHES):
            engine.process_batch(_minute_frame(spark, minutes), i)
            requests = read()
            now = _emitted_minutes(requests)
            assert sorted(set(now) - set(seen)) == want[i], i
            assert len(now) == len(set(now)), "re-emitted a row"
            seen = now
            st = engine.stats
            assert st.sink.records_sent == len(now)
            assert st.sink.requests == len(requests)
            if now:
                assert st.max_emitted_ts.isoformat() == max(
                    t for req in requests for _, t in req)
        engine.finalize()
        assert _emitted_minutes(read()) == list(range(300))
        assert sorted(set(_emitted_minutes(read())) - set(seen)) \
            == want_tail
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_crash_before_commit(spark, tmp_path, monkeypatch,
                                         mode):
    """The crash window of the gate: a batch whose emit and held epoch
    are written but whose commit marker is not. That epoch must be
    ignored; the redelivered batch recomputes from the previous
    committed epoch (re-emitting, at-least-once) and nothing is lost.
    Once committed, a redelivery skips."""
    import os

    from amazon_kinesis_replay_spark import fsutil

    sink, read = _request_journal(str(tmp_path / "journal"))
    engine = _gate_engine(tmp_path, sink, mode)
    want, want_tail = _gate_twin(GATE_BATCHES)
    b = [_minute_frame(spark, m) for m in GATE_BATCHES]
    held = str(tmp_path / "reorder-state" / "held")
    engine.process_batch(b[0], 0)
    engine.process_batch(b[1], 1)
    before = _emitted_minutes(read())
    assert before == sorted(want[0] + want[1])

    def crash(spark, build_dir):
        raise RuntimeError("simulated crash before the commit marker")

    real_commit = fsutil.gen_commit
    monkeypatch.setattr(fsutil, "gen_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.process_batch(b[2], 2)
    monkeypatch.setattr(fsutil, "gen_commit", real_commit)
    assert sorted(os.listdir(held)) == ["gen=0000000001", "gen=0000000002"]
    assert not os.path.exists(held + "/gen=0000000002/_GEN_COMMITTED")
    assert _emitted_minutes(read()) == sorted(before + want[2])

    # redelivery: the uncommitted epoch 2 is ignored, batch 2 recomputes
    # from epoch 1 and emits the same rows again
    engine.process_batch(b[2], 2)
    assert _emitted_minutes(read()) == sorted(before + want[2] + want[2])
    assert os.listdir(held) == ["gen=0000000002"]
    assert os.path.exists(held + "/gen=0000000002/_GEN_COMMITTED")
    # committed: redeliveries of batch 2 (and of older batches) skip
    settled = read()
    engine.process_batch(b[2], 2)
    engine.process_batch(b[1], 1)
    assert len(read()) == len(settled)
    engine.finalize()
    got = _emitted_minutes(read())
    assert sorted(set(got)) == list(range(300))        # nothing lost
    assert sorted(set(got) - set(before + want[2])) == want_tail


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_job_budget(spark, tmp_path, mode):
    """The gate's bookkeeping runs no Spark jobs: the held window is
    read, merged and written on the driver, the commit is one
    marker-file create, and the per-sender stats are summed on the
    driver. With AQE off, a steady gated batch is one job in driver
    mode (its bounded, ts-sorted collect of the whole batch, gated and
    paced on the driver) and two in partitioned mode (the `bound + 1`
    newest batch rows, the emit). finalize() is one job in partitioned
    mode (the emit of the held tail) and none in driver mode, which
    paces the tail it read onto the driver."""
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink
    out = str(tmp_path / "sink")
    engine = _gate_engine(tmp_path, lambda: FileSink(out), mode)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        engine.process_batch(_minute_frame(spark, GATE_BATCHES[0]), 0)
        steady = []
        for i in (1, 2):
            # group names are unique per mode: the tracker keeps the
            # jobs of every earlier group of the session
            group = f"gate-steady-{mode}-{i}"
            sc.setJobGroup(group, "steady gated batch")
            engine.process_batch(_minute_frame(spark, GATE_BATCHES[i]), i)
            steady.append(len(tracker.getJobIdsForGroup(group)))
        sc.setJobGroup(f"gate-finalize-{mode}", "drain the held tail")
        engine.finalize()
        fin = len(tracker.getJobIdsForGroup(f"gate-finalize-{mode}"))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    want = [1, 1] if mode == "driver" else [2, 2]
    assert steady == want, f"jobs per steady gated batch: {steady}"
    assert fin == (0 if mode == "driver" else 1), \
        f"jobs in finalize(): {fin}"
    assert engine.stats.sink.records_sent == 300


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_ties_beyond_the_top_k(spark, tmp_path, mode):
    """A batch with more than `bound + 1` rows at the cutoff ts: in
    partitioned mode the gate's top-k job brings only `bound + 1` of
    them to the driver, so it must fetch the rest in one more job, or
    the window loses the ties it never saw; driver mode collects the
    whole batch. Pinned per batch against the twin in both modes."""
    batches = [list(range(0, 100)),
               [150] * 200 + list(range(100, 140)),
               list(range(200, 260))]
    want, want_tail = _gate_twin(batches)
    assert want[1] == list(range(140)) and len(want_tail) == 260, \
        "fixture sanity: the cutoff of batch 1 is 150, tied 200 times"
    sink, read = _request_journal(str(tmp_path / "journal"))
    engine = _gate_engine(tmp_path, sink, mode)
    seen: list = []
    for i, minutes in enumerate(batches):
        engine.process_batch(_minute_frame(spark, minutes), i)
        now = _emitted_minutes(read())
        diff = collections.Counter(now) - collections.Counter(seen)
        assert sorted(diff.elements()) == want[i], i
        seen = now
    engine.finalize()
    tail = collections.Counter(_emitted_minutes(read())) \
        - collections.Counter(seen)
    assert sorted(tail.elements()) == want_tail


def test_driver_reorder_refuses_a_tied_tail_over_the_driver_bound(
        spark, tmp_path):
    """Rows tied at the cutoff all stay held, so the tail can outgrow
    `reader_buffer_size`; driver mode paces the tail from the driver as
    one frame, and finalize() refuses it above driver_mode_max_rows
    like any other driver-mode frame, sending nothing."""
    sink = InMemorySink()
    engine = ReplayEngine(
        ReplayConfig(speedup_factor=1e12, reader_buffer_size=50,
                     driver_mode_max_rows=100, reorder_across_batches=True,
                     reorder_state_path=str(tmp_path / "reorder-state")),
        sink, mode="driver")
    for i in range(2):
        engine.process_batch(_minute_frame(spark, [77] * 60), i)
    with pytest.raises(ValueError, match="driver_mode_max_rows=100"):
        engine.finalize()
    assert engine.stats.sink.records_sent == 0


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_epoch_round_trips_rows_unchanged(spark, tmp_path,
                                                        mode):
    """Rows held across a batch go through the epoch file and back into
    Spark, and must come out as they went in: pre-epoch and
    microsecond timestamps, unicode, quote, backslash, newline and
    empty payloads. Batch 0 is all held; batch 1 emits it from the
    epoch; the tail is batch 1's rows."""
    import pandas as pd

    micros = [-631_152_000_000_000, -1_000_000, -1, 1,
              1_600_000_000_123_456, 1_600_000_001_000_000]
    payloads = ["ü€😀", 'say "hi"', "back\\slash", "", "line\nbreak",
                "{'k': 1}"]
    late = [(f"late{i}", 2_000_000_000_000_000 + i) for i in range(8)]
    batches = [list(zip(payloads, micros)), late]
    want, want_tail = _gate_twin(
        [[us for _, us in b] for b in batches], bound=8)
    assert want == [[], micros] and want_tail == [us for _, us in late], \
        "fixture sanity"
    iso = {us: pd.Timestamp(us, unit="us").isoformat()
           for b in batches for _, us in b}
    sink, read = _request_journal(str(tmp_path / "journal"))
    engine = ReplayEngine(
        ReplayConfig(speedup_factor=1e12, sender_threads=2,
                     reader_buffer_size=8, reorder_across_batches=True,
                     anchor_ts="1950-01-01T00:00:00Z",
                     reorder_state_path=str(tmp_path / "reorder-state")),
        sink if mode == "partitioned" else sink(), mode=mode)
    for i, rows in enumerate(batches):
        engine.process_batch(
            spark.createDataFrame(rows, "payload string, us long").select(
                "payload", F.timestamp_micros("us").alias("ts")), i)
    got = sorted(tuple(r) for req in read() for r in req)
    assert got == sorted((p, iso[us]) for p, us in batches[0])
    engine.finalize()
    got = sorted(tuple(r) for req in read() for r in req)
    assert got == sorted((p, iso[us]) for b in batches for p, us in b)


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_drains_a_spark_written_epoch(spark, tmp_path, mode):
    """An epoch committed by the gate that wrote its window with Spark's
    parquet writer (several part files, `_SUCCESS` and `.crc` files)
    still drains: every data file is read, the rest skipped."""
    import os

    from amazon_kinesis_replay_spark import fsutil

    held = str(tmp_path / "reorder-state" / "held")
    epoch = fsutil.gen_path(held, 0)
    _minute_frame(spark, GATE_BATCHES[0]).repartition(3) \
        .write.parquet(epoch)
    names = os.listdir(epoch)
    assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
    assert sum(n.startswith("part-") for n in names) > 1, names
    fsutil.gen_commit(spark, epoch)
    sink, read = _request_journal(str(tmp_path / "journal"))
    engine = _gate_engine(tmp_path, sink, mode)
    engine.process_batch(_minute_frame(spark, GATE_BATCHES[1]), 1)
    want, want_tail = _gate_twin(GATE_BATCHES[:2])
    assert _emitted_minutes(read()) == want[1]
    engine.finalize()
    assert _emitted_minutes(read()) == sorted(GATE_BATCHES[0]
                                              + GATE_BATCHES[1])


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_restart_finalize_drains_committed_tail(
        spark, tmp_path, mode):
    """A restart on an existing state dir with no new input runs no
    batch before finalize(), as an availableNow stream that crashed
    after its last commit does. The fresh engine must still drain the
    committed held tail with the active session, then delete the state
    dir."""
    import os

    sink, read = _request_journal(str(tmp_path / "journal"))
    first = _gate_engine(tmp_path, sink, mode)
    for i in (0, 1):
        first.process_batch(_minute_frame(spark, GATE_BATCHES[i]), i)
    emitted = _emitted_minutes(read())
    want, want_tail = _gate_twin(GATE_BATCHES[:2])
    assert emitted == sorted(want[0] + want[1])
    assert os.path.exists(str(tmp_path / "reorder-state" / "held"
                              / "gen=0000000001" / "_GEN_COMMITTED"))

    restarted = _gate_engine(tmp_path, sink, mode)
    restarted.finalize()
    assert _emitted_minutes(read()) == sorted(emitted + want_tail)
    assert restarted.stats.sink.records_sent == len(want_tail)
    assert not os.path.exists(str(tmp_path / "reorder-state"))


@pytest.mark.parametrize("mode", ["driver", "partitioned"])
def test_reorder_gate_restart_from_checkpoint_emits_every_event(
        spark, stream_fixture, tmp_path, mode):
    """A gated stream whose sink fails in batch 2, after batches 0 and 1
    have committed, is restarted by a fresh engine from the same
    checkpoint and run to the end. Every event must still be emitted at
    least once: the rows the gate held from the committed batches live
    in its state dir, laid out inside the checkpoint as the CLI does,
    not in the dead engine's memory. Also shows that Spark accepts the
    gate's directory inside its checkpoint."""
    import os

    from pyspark.errors import StreamingQueryException

    path, n_events, _ = stream_fixture
    ckpt = str(tmp_path / "ckpt")
    crash = str(tmp_path / "crash")
    sink, read = _request_journal(str(tmp_path / "journal"), crash)
    # 100 events per batch: batch 0 is all held, batch 1 emits, and the
    # sink fails on batch 2's first request
    cfg = ReplayConfig(source_path=path, speedup_factor=1e12,
                       sender_threads=2, reader_buffer_size=150,
                       reorder_across_batches=True,
                       reorder_state_path=ckpt + "/reorder-state")

    def engine():
        return ReplayEngine(cfg, sink if mode == "partitioned" else sink(),
                            mode=mode)

    def run(eng):
        events = ndjson.read_events_stream(spark, cfg,
                                           max_files_per_trigger=1)
        return run_replay_stream(events, eng, ckpt)

    first = engine()
    process_batch = first.process_batch

    def crash_in_batch_2(batch_df, batch_id):
        if batch_id == 2:
            open(crash, "w").close()
        process_batch(batch_df, batch_id)

    first.process_batch = crash_in_batch_2
    with pytest.raises(StreamingQueryException, match="simulated sink"):
        run(first).awaitTermination(120)
    assert first.stats.batches == 2
    assert 0 < len(read()), "batch 1 emitted before the crash"
    os.remove(crash)

    restarted = engine()
    run(restarted).awaitTermination(120)
    restarted.finalize()
    assert restarted.stats.batches == 2          # batches 2 and 3
    emitted = {p for req in read() for p, _ in req}
    assert len(emitted) == n_events


def test_reorder_gate_refuses_old_layout_and_sessionless_finalize(
        spark, tmp_path, monkeypatch):
    """A state dir in the applied-marker layout raises a named error
    instead of being read as empty, and finalize() with no batch run and
    no active session raises instead of leaving the held tail
    undrained."""
    import os

    from pyspark.sql import SparkSession

    from amazon_kinesis_replay_spark.streaming.replay import (
        LegacyReorderStateError)
    engine = _gate_engine(tmp_path, lambda: InMemorySink())
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "getActiveSession",
                  classmethod(lambda cls: None))
        with pytest.raises(RuntimeError, match="no session is active"):
            engine.finalize()
    os.makedirs(tmp_path / "reorder-state" / "applied")
    with pytest.raises(LegacyReorderStateError, match="applied-marker"):
        engine.process_batch(_minute_frame(spark, range(10)), 0)


@pytest.mark.slow
@pytest.mark.loadsensitive
def test_composed_replay_witness_small(tmp_path):
    """The composed replay-at-scale witness (source → durable reorder
    gate → partitioned paced senders → capped sink with retry) pinned
    at sf0.001 so composition regressions surface in-suite (the r11
    sf0.1 run: 100k rows multiset-exact, steady lateness p50 1.0 s /
    p99 4.1 s). The tool exits
    nonzero unless the emitted multiset is exact, every sender journal
    is ts-ordered, and every request respects the Kinesis cap.
    Load-sensitive (subprocess pacing under a shared box): retried via
    conftest.run_load_sensitive when the box reads loaded."""
    import json as js
    import subprocess
    import sys

    from conftest import run_load_sensitive

    def body():
        out = subprocess.run(
            [sys.executable, str(ROOT / "tools" / "replay_scale_witness.py"),
             "/root/testdata/sf0.001", "3"],
            capture_output=True, text=True, timeout=420)
        assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        s = js.loads(line)
        assert s["emitted"] == s["rows"] == 1000
        assert s["multiset_exact"] and s["per_sender_ordered"]
        assert s["request_cap_ok"] and s["retried_records"] > 0
        assert s["batches"] == 3

    # a loaded box can also push the subprocess past its timeout
    run_load_sensitive(
        body, retry_on=(AssertionError, subprocess.TimeoutExpired))


def test_iso_strings_matches_isoformat_elementwise():
    """The r13 vectorized emit-timestamp formatter must reproduce
    Timestamp.isoformat() exactly at every precision tier the variable
    -precision contract has: bare seconds, milli/micro fractions,
    nanosecond remainders, and pre-epoch values."""
    import pandas as pd

    from amazon_kinesis_replay_spark.streaming.replay import _iso_strings

    ts = pd.Series(pd.to_datetime([
        "2024-01-01 00:00:00",
        "2024-01-01 00:00:00.500000",
        "2024-01-01 00:00:00.000001",
        "2024-01-01 00:00:00.123456789",
        "1969-12-31 23:59:59.500000",
        "1969-12-31 23:59:59",
        "2038-01-19 03:14:07.999999",
    ], format="mixed"))
    got = list(_iso_strings(ts))
    want = [t.isoformat() for t in ts]
    assert got == want
