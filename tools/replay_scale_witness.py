"""Composed replay-at-scale witness (r10 verdict item 4).

The reference's WHOLE job (RePlayer.java:114-177) at bench scale, every
engine stage composed in one run over the full sf0.1 events table:

  NDJSON shard directory (planted cross-batch disorder)
    -> streaming source with maxFilesPerTrigger backpressure
       (OP-SRC-* / OP-FLOW-BACKPRESSURE)
    -> durable reorder gate (OP-SORT-EVENTTIME): the bounded window
       held on the driver, one top-k job per batch, and a one-file
       parquet epoch per batch in reorder_state_path= that the driver
       writes through the Hadoop FS API, each with a commit marker
    -> partitioned per-sender pacing (OP-RATE-PACE / OP-PAR-SENDERS)
    -> Kinesis-shaped sink: <=500-record requests, per-instance
       first-request failure exercising send_with_retry
       (OP-SINK-KINESIS / OP-SINK-RETRY)

Asserts (and prints as one JSON line):
  - row counts: emitted multiset == input multiset (nothing dropped or
    duplicated, across gate + retry + finalize drain)
  - batch caps: every sink request <= max_records_per_request
  - emission order: ts non-decreasing within every sender journal file
    (one file per sink instance = per sender partition per batch)
  - pacing tolerance: p50/p99/max lateness vs the speedup schedule,
    anchored two ways (script t0 -> includes the stream-startup floor;
    implied anchor -> steady-state pacing quality)

Usage: python tools/replay_scale_witness.py [sf_dir] [n_shards] [speedup]
Defaults: /root/testdata/sf0.1, 10 shards, speedup so the replay paces
over ~13 s of wall clock.
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REC_DIR = None  # set in main(); module global so the sink pickles cleanly


class JournalSink:
    """Kinesis-shaped sink: enforces the 500-record request cap, fails
    the first record of its first request (exercising the retry path),
    and journals every ACCEPTED record's (ts, wall-clock) to its own
    file — one file per sink instance, i.e. per sender partition per
    micro-batch, so within-file order IS per-sender emission order.

    The journal name must be unique PER INSTANCE, not per (pid, address):
    ``id(self)`` is a reused memory address, so in a long-lived executor
    worker a later micro-batch's sink can collide with an earlier one and
    APPEND to the same file — and the reorder gate's legitimate
    cross-batch late emissions then read as a within-sender ts inversion
    (the r11 flaky failure). uuid4 guarantees one file per instance."""

    def __init__(self):
        import uuid
        self.first = True
        self.path = os.path.join(
            REC_DIR, f"{os.getpid()}-{uuid.uuid4().hex}.jsonl")
        self.f = open(self.path, "a")

    def put_records(self, records):
        now = time.time()
        if len(records) > 500:
            # journal the violation loudly; the assert happens driver-side
            self.f.write(json.dumps({"cap_violation": len(records)}) + "\n")
        failed = []
        end = len(records)
        if self.first and end > 1:
            # fail the LAST record: send_with_retry re-sends it before the
            # next chunk, so per-sender ts order survives the retry
            self.first = False
            failed = [end - 1]
            end -= 1
        self.f.write(json.dumps(
            {"wall": now, "ts": [r["ts"] for r in records[:end]]}) + "\n")
        self.f.flush()
        return failed


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    speedup = float(sys.argv[3]) if len(sys.argv) > 3 else None

    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.session import build_spark
    from amazon_kinesis_replay_spark.sources import ndjson
    from amazon_kinesis_replay_spark.streaming.replay import (
        ReplayEngine, run_replay_stream)
    from amazon_kinesis_replay_spark.tables import load

    global REC_DIR
    work = tempfile.mkdtemp(prefix="replay-witness-")
    REC_DIR = os.path.join(work, "journal")
    os.makedirs(REC_DIR)

    spark = build_spark("replay-scale-witness")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- build the NDJSON shard dir with planted cross-batch disorder ----
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts", "event_id").collect())
    n = len(rows)
    span_s = (rows[-1]["ts"] - rows[0]["ts"]).total_seconds()
    if speedup is None:
        # ~45 s paced window: each micro-batch's pacing slice must
        # dominate the per-micro-batch machinery floor (gate state write
        # + marker + emit job, ~2-3 s) or lateness measures the floor,
        # not the pacing (DEVIATIONS item 6)
        speedup = max(1.0, span_s / 45.0)
    anchor_iso = rows[0]["ts"].isoformat()

    def line(r):
        return json.dumps({"event_id": r["event_id"],
                           "dropoff_datetime": r["ts"].isoformat()})

    shard_size = (n + n_shards - 1) // n_shards
    shards = [rows[k * shard_size:(k + 1) * shard_size]
              for k in range(n_shards)]
    # plant disorder: the 200 EARLIEST rows of each shard k>=1 arrive one
    # micro-batch late (moved into shard k-1's FILE would make them early;
    # moving them FORWARD puts old rows in a later batch — the disorder
    # the reorder gate exists to repair)
    leak = min(200, shard_size // 5)
    straggler_ts: set = set()
    for k in range(n_shards - 1, 0, -1):
        stragglers, shards[k] = shards[k - 1][:leak], shards[k]
        shards[k - 1] = shards[k - 1][leak:]
        shards[k] = shards[k] + stragglers
        straggler_ts.update(r["ts"].isoformat() for r in stragglers)
    src = os.path.join(work, "shards")
    os.makedirs(src)
    t_mtime = time.time() - n_shards
    for k, shard in enumerate(shards):
        p = os.path.join(src, f"shard-{k:03d}.jsonl")
        with open(p, "w") as fh:
            for r in shard:
                fh.write(line(r) + "\n")
        os.utime(p, (t_mtime + k, t_mtime + k))   # deterministic order

    want_ts = sorted(r["ts"].isoformat() for r in rows)

    # ---- the composed job -------------------------------------------------
    cfg = ReplayConfig(
        source_path=src,
        speedup_factor=speedup,
        anchor_ts=anchor_iso,
        sender_threads=8,
        # > leak so the planted disorder fits the repair window, but well
        # under a shard so the gate doesn't degenerate to hold-everything
        reader_buffer_size=max(2 * leak + 50, min(1_000, n // 20)),
        reorder_across_batches=True,
        reorder_state_path=os.path.join(work, "reorder-state"),
        max_records_per_request=500,
        backoff_base_ms=1, max_backoff_ms=2,
    )
    engine = ReplayEngine(cfg, JournalSink, mode="partitioned")
    stream = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    t0 = time.time()
    query = run_replay_stream(stream, engine,
                              os.path.join(work, "ckpt"))
    query.awaitTermination()
    engine.finalize()
    t1 = time.time()

    # ---- audit the journals -------------------------------------------------
    import datetime as _dt
    anchor_dt = _dt.datetime.fromisoformat(anchor_iso)
    got_ts: list[str] = []
    lateness: list[float] = []
    per_file_ordered = True
    cap_ok = True
    n_requests = 0
    for fp in glob.glob(REC_DIR + "/*.jsonl"):
        prev = None
        for raw in open(fp):
            rec = json.loads(raw)
            if "cap_violation" in rec:
                cap_ok = False
                continue
            n_requests += 1
            for t in rec["ts"]:
                got_ts.append(t)
                if prev is not None and t < prev:
                    per_file_ordered = False
                prev = t
                off = (_dt.datetime.fromisoformat(t)
                       - anchor_dt).total_seconds() / speedup
                lateness.append((rec["wall"], off, t in straggler_ts))
    got_ts.sort()

    # two-way lateness: vs script t0 (includes startup floor) and vs the
    # implied anchor (steady-state pacing quality); planted stragglers —
    # the gate's emit-late-never-drop contract — reported separately so
    # the steady numbers measure PACING, not the planted disorder
    raw_late = sorted(w - (t0 + off) for w, off, _ in lateness)
    implied_anchor = min(w - off for w, off, _ in lateness)
    rel_late = sorted(w - (implied_anchor + off)
                      for w, off, s in lateness if not s)
    strag_late = sorted(w - (implied_anchor + off)
                        for w, off, s in lateness if s)

    def pct(xs, q):
        return round(xs[min(len(xs) - 1, int(len(xs) * q))], 3)

    summary = {
        "sf_dir": sf_dir, "rows": n, "n_shards": n_shards,
        "speedup": round(speedup, 1),
        "paced_window_sec": round(span_s / speedup, 2),
        "wall_sec": round(t1 - t0, 2),
        "emitted": len(got_ts),
        "multiset_exact": got_ts == want_ts,
        "per_sender_ordered": per_file_ordered,
        "request_cap_ok": cap_ok,
        "n_requests": n_requests,
        "retried_records": engine.stats.sink.retried_records,
        "records_sent": engine.stats.sink.records_sent,
        "startup_floor_sec": round(implied_anchor - t0, 2),
        "lateness_vs_t0": {"p50": pct(raw_late, 0.5),
                           "p99": pct(raw_late, 0.99),
                           "max": round(raw_late[-1], 3)},
        "lateness_steady": {"p50": pct(rel_late, 0.5),
                            "p99": pct(rel_late, 0.99),
                            "max": round(rel_late[-1], 3)},
        "n_stragglers": len(strag_late),
        "straggler_lateness": (
            {"p50": pct(strag_late, 0.5), "max": round(strag_late[-1], 3)}
            if strag_late else None),
        "batches": engine.stats.batches,
        "max_emitted_ts": str(engine.stats.max_emitted_ts),
        "max_lag_s": round(engine.stats.max_lag_s, 3),
    }
    print(json.dumps(summary))
    ok = (summary["multiset_exact"] and summary["per_sender_ordered"]
          and summary["request_cap_ok"] and summary["emitted"] == n)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
