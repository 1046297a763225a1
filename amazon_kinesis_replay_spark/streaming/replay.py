"""The streaming replay shell: pace event emission against simulated
ingestion time and sink in batched, retried requests.

This is the inherently-streaming part of the reference (SURVEY §7.3 M4):

- OP-RATE-PACE     RePlayer.java:132-143 — sleep until now >= ingestion_time
- OP-RATE-SPEEDUP  RePlayer.java:23 / JsonEvent.java:96 — affine time map
- OP-PROJ-INGEST   JsonEvent.java:70-71,91-97 — anchor = first parsed event
                   + wall clock at start (faithfully stateful across batches)
- OP-SORT-EVENTTIME JsonEventBufferedReader.java:39-46 — per-micro-batch
                   event-time sort (watermark = the bounded-disorder analogue)
- OP-SINK-KINESIS / OP-SINK-RETRY — sinks.send_with_retry
- OP-AGG-WINDOWCOUNT/-MAXWM/-LAG  RePlayer.java:145-162 — live statistics

Two emission modes:

- ``driver``      — exact single-stream pacing, mirroring the reference's
                    sequential replay loop (its consumer thread IS single-
                    stream). Micro-batches are bounded by maxFilesPerTrigger,
                    so the per-batch collect is bounded; right for tests and
                    for any sink that must observe global event-time order.
- ``partitioned`` — the 100 TB path: hash-repartition(senders, ts) +
                    sortWithinPartitions(ts), each partition pacing
                    independently against the shared anchor — the analogue
                    of the reference's N concurrent sender threads pulling
                    from one ts-ordered queue (KinesisProducer.java:51-54),
                    which already give only approximate global order at the
                    sink. Hash (not repartitionByRange) for two reasons:
                    every sender stays active across the whole replay span
                    (a range partition k would sleep until fraction k/N of
                    the span has elapsed — effective parallelism 1 at any
                    wall-clock instant), and no range-bounds sampling job —
                    the emit is the batch's only scan once the anchor
                    exists.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ReplayConfig
from .sinks import SinkStats, send_with_retry


def _iso_strings(ts_col):
    """Vectorized `Timestamp.isoformat()` twin for a tz-naive pandas ts
    Series (r13, guide §1.2 per-task work): numpy datetime_as_string per
    precision tier — bare seconds when the sub-second part is zero,
    6-digit micros when micro-exact, 9-digit nanos otherwise — exactly
    the variable-precision strings the per-row isoformat loop emitted
    (pinned elementwise in test_streaming_replay). The loop measured
    ~0.47 s per 100k rows — ~60% of the driver-mode emit.

    Returns an OBJECT ndarray: fixed-width U-assignment would silently
    truncate the longer nano strings into a micro-width array."""
    import numpy as np
    arr = ts_col.to_numpy()
    ns = arr.astype("int64")
    sub = ns % 1_000_000_000
    out = np.datetime_as_string(arr, unit="us").astype(object)
    sec = sub == 0
    if sec.any():
        out[sec] = np.datetime_as_string(arr[sec], unit="s").astype(object)
    nsm = (sub % 1000) != 0
    if nsm.any():
        out[nsm] = np.datetime_as_string(arr[nsm], unit="ns").astype(object)
    return out


@dataclass
class ReplayStats:
    """Live statistics mirroring RePlayer.java:145-162 +
    KinesisProducer.java:204-218."""
    total_events: int = 0
    batches: int = 0
    max_emitted_ts: object = None          # OP-AGG-MAXWM
    max_lag_s: float = 0.0                 # OP-AGG-LAG
    sink: SinkStats = field(default_factory=SinkStats)
    window_counts: list = field(default_factory=list)  # OP-AGG-WINDOWCOUNT
    _window_start: float | None = None
    _window_events: int = 0

    def tick(self, n_events: int, now: float, frequency_ms: int):
        self.total_events += n_events
        if self._window_start is None:
            self._window_start = now
        self._window_events += n_events
        freq_s = frequency_ms / 1000.0
        while now - self._window_start >= freq_s:
            # events/sec = round(1000*count/freq): RePlayer.java:150
            self.window_counts.append(
                (self._window_start,
                 self._window_events,
                 round(self._window_events / freq_s)))
            self._window_start += freq_s
            self._window_events = 0


class LegacyReorderStateError(RuntimeError):
    """The reorder state dir was written in the old layout (a root
    `applied/` marker), which this gate does not read."""


class ReplayEngine:
    """Stateful cross-batch replay: holds the ingestion anchor exactly like
    the reference's parser (first parsed event + wall clock at construction,
    JsonEvent.java:70-71,91-93) and paces each micro-batch.

    Use as the foreachBatch callback: ``stream.foreachBatch(engine)``.
    """

    def __init__(self, cfg: ReplayConfig, sink,
                 mode: str = "driver",
                 clock=time.monotonic, sleep=time.sleep):
        if mode not in ("driver", "partitioned"):
            raise ValueError(f"unknown replay mode {mode!r}")
        if (cfg.reorder_across_batches and mode != "driver"
                and not cfg.reorder_state_path):
            # silently ignoring the flag would let a user believe
            # cross-batch disorder is being repaired while partitioned
            # mode only sorts within partitions (r8 review finding).
            # Late r8: partitioned mode CAN reorder — via the durable
            # distributed gate — but it needs a state directory.
            raise ValueError(
                "reorder_across_batches in partitioned mode needs "
                "reorder_state_path= (a durable held-state directory "
                "for the distributed gate); set it, or run "
                "mode='driver' (in-memory buffer), or drop the flag")
        self.cfg = cfg
        self.sink = sink
        self.mode = mode
        self.clock = clock
        self.sleep = sleep
        self.stats = ReplayStats()
        self._first_event_ts = None        # event-time anchor
        self._ingestion_start = None       # wall-clock anchor
        self._held = None                  # cross-batch reorder buffer (pdf)
        self._spark = None                 # session of the last gated batch

    # -- anchor management (OP-PROJ-INGEST) --------------------------------

    def _ensure_anchor(self, batch_min_ts):
        if self._first_event_ts is None:
            self._first_event_ts = self._cfg_anchor() or batch_min_ts
            self._ingestion_start = self.clock()

    def _cfg_anchor(self):
        """Explicit anchor from config (e.g. the seek position), parsed as
        UTC. At 100 TB the replay start is KNOWN (you seeked to it) — an
        explicit anchor means no scan is ever needed to find the batch
        minimum before pacing can start."""
        if not self.cfg.anchor_ts:
            return None
        import pandas as pd
        ts = pd.Timestamp(self.cfg.anchor_ts)
        if ts.tzinfo is not None:
            # normalize to the naive-UTC convention Arrow toPandas /
            # mapInPandas use under the UTC session timezone
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts

    def _ingestion_offset_s(self, ts) -> float:
        """Seconds after ingestion_start this event should be emitted."""
        delta = (ts - self._first_event_ts).total_seconds()
        return max(0.0, delta) / self.cfg.speedup_factor

    # -- foreachBatch entry --------------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int):
        self.process_batch(batch_df, batch_id)

    def process_batch(self, batch_df: DataFrame, batch_id: int):
        if self.mode == "driver":
            self._process_driver(batch_df)
        elif self.cfg.reorder_across_batches:
            self._process_partitioned_reordered(batch_df, batch_id)
        else:
            self._process_partitioned(batch_df)
        self.stats.batches += 1

    # -- driver mode: exact global-order pacing ------------------------------

    def _process_driver(self, batch_df: DataFrame):
        # ONE job per micro-batch: the size guard is folded into the
        # collect as LIMIT bound+1 — at most bound+1 (sorted) rows ever
        # cross to the driver, and an oversized batch is detected from the
        # collected length instead of a separate probe job (the r3 probe
        # was a second scan of the source per batch).
        # Arrow transfer: toPandas moves the batch as columnar Arrow
        # batches instead of one pickled Row object per record (the
        # session enables spark.sql.execution.arrow.pyspark.enabled).
        # Timestamps arrive in the SESSION timezone (UTC per
        # ensure_engine_conf), so emitted ts isoformat strings are
        # deterministic UTC regardless of host TZ — the pre-Arrow collect()
        # path rendered them in host-local time.
        bound = self.cfg.driver_mode_max_rows
        pdf = (batch_df.select("payload", "ts")
               .orderBy(F.col("ts").asc())           # OP-SORT-EVENTTIME
               .limit(bound + 1)
               .toPandas())
        if len(pdf) > bound:
            raise ValueError(
                f"driver-mode replay refuses a micro-batch exceeding "
                f"driver_mode_max_rows={bound}: the batch would be "
                "collect()ed onto the driver. Use mode='partitioned' "
                "(per-sender pacing, executor-side sinks) or raise "
                "driver_mode_max_rows explicitly.")
        if self.cfg.reorder_across_batches:
            pdf = self._reorder_gate(pdf)
        if pdf.empty:
            return
        self._emit_pdf(pdf)

    def _reorder_gate(self, pdf):
        """Row-count-bounded cross-batch reorder buffer — the reference's
        100k-event priority queue (JsonEventBufferedReader.java:39,
        RePlayer.java:26) at micro-batch granularity: hold back the
        LAST `reader_buffer_size` rows of the merged (held + batch)
        ts-sorted stream and emit the prefix. An event is emitted only
        once `reader_buffer_size` later-or-equal events have been seen —
        exactly the priority queue's poll-when-full rule — so any
        disorder within that window is repaired ACROSS micro-batches
        (per-batch sorting alone cannot), and disorder beyond it is
        emitted late rather than dropped (the watermark-based stateful
        ops drop instead; docs/DEVIATIONS.md item 3). Call `finalize()`
        after the stream terminates to drain the tail."""
        import pandas as pd
        bound = max(1, self.cfg.reader_buffer_size)
        combined = (pd.concat([self._held, pdf], ignore_index=True)
                    if self._held is not None else pdf)
        # mergesort = stable: equal-ts rows keep arrival order, matching
        # the reference's insertion-ordered tie behavior
        combined = combined.sort_values("ts", kind="mergesort",
                                        ignore_index=True)
        if len(combined) <= bound:
            self._held = combined
            return combined.iloc[0:0]
        split = len(combined) - bound
        self._held = combined.iloc[split:].reset_index(drop=True)
        return combined.iloc[:split].reset_index(drop=True)

    def finalize(self):
        """Drain the cross-batch reorder buffer — the reference drains
        its priority queue when the S3 iterator is exhausted; a finite
        (availableNow) stream calls this after awaitTermination.
        Partitioned mode drains the durable held state and then deletes
        the state directory (the stream is over); a crash between the
        drain emit and the delete redelivers on the next finalize —
        at-least-once, like every sink path here. It reads the state
        with the session of the last `process_batch`, else the active
        session (a restart with no new input runs no batch), and raises
        when there is neither."""
        if self.mode == "partitioned":
            self._finalize_partitioned()
            return
        held, self._held = self._held, None
        if held is None or held.empty:
            return
        self._emit_pdf(held)

    # -- partitioned-mode distributed reorder gate (late r8) ----------------

    #: Schema of the held state, given explicitly so reading an epoch
    #: needs no schema-inference job.
    _HELD_SCHEMA = "payload string, ts timestamp"

    def _state_root(self, spark) -> str:
        """`reorder_state_path`; the held epochs live under its `held/`.
        Refuses a state dir in the old layout (a root `applied/` parquet
        marker beside `held/epoch=<id>` dirs): its epochs carry no commit
        marker, so reading on would silently drop the held rows."""
        from .. import fsutil
        root = self.cfg.reorder_state_path.rstrip("/")
        if fsutil.exists(spark, root + "/applied"):
            raise LegacyReorderStateError(
                f"{root} holds reorder state in the old applied-marker "
                "layout; drain it with the release that wrote it, or "
                "delete it to start the gate empty")
        return root

    def _process_partitioned_reordered(self, batch_df: DataFrame,
                                       batch_id: int):
        """Distributed twin of `_reorder_gate` — the reference's bounded
        priority queue (JsonEventBufferedReader.java:39) carried into the
        scale path: hold back the ts-LARGEST `reader_buffer_size` rows of
        (held ∪ batch) as durable parquet and hand only the older prefix
        to the per-sender pacing stage. A row is emitted only once at
        least `reader_buffer_size` later-or-equal rows exist — the
        poll-when-full rule — so disorder within the window is repaired
        across micro-batches and disorder beyond it emits late, never
        drops. Held rows whose targets are still in the future lose
        nothing: pacing, not arrival, schedules their emission.

        Differences from the driver-mode gate, by design:
        - the split is by ts VALUE (cutoff = the bound-th largest ts),
          not row count: a row-count split of a distributed frame is
          nondeterministic under ties, a ts cutoff is not. Ties at the
          cutoff ride the buffer (window >= bound rows, never < bound).
        - state is one parquet epoch per batch, held/gen=<batch_id>, and
          an epoch is APPLIED iff it holds the generation commit marker
          (`fsutil.gen_commit`), written after both the emit and the
          held write. A redelivered batch either skips entirely (its
          epoch is committed: state and emit already done) or recomputes
          bit-identically from the previous committed epoch and
          overwrites its own uncommitted one. The marker and the state
          share one directory, so they cannot disagree. Sink emission
          stays at-least-once (a crash between emit and commit re-emits),
          the same contract as send_with_retry.
        """
        from .. import fsutil
        spark = self._spark = batch_df.sparkSession
        held_root = self._state_root(spark) + "/held"
        applied, prev = fsutil.gen_latest(spark, held_root)
        if applied >= batch_id:
            return                      # redelivery of an applied batch
        combined = batch_df.select("payload", "ts") \
            .filter(F.col("ts").isNotNull())
        if prev is not None:
            combined = (spark.read.schema(self._HELD_SCHEMA).parquet(prev)
                        .unionByName(combined))
        # three downstream actions (cutoff, emit, state write) over one
        # frame: materialize once; ContextCleaner reclaims the blocks
        # when the frame goes out of scope (localCheckpoint, not
        # persist: each branch would otherwise embed the full lineage)
        combined = combined.localCheckpoint()
        bound = max(1, self.cfg.reader_buffer_size)
        head = (combined.select("ts").orderBy(F.col("ts").desc())
                .limit(bound)
                .agg(F.min("ts").alias("cutoff"),
                     F.count("*").alias("k")).toPandas().iloc[0])
        if int(head["k"] or 0) < bound:
            emit, held = None, combined   # window not yet full: hold all
        else:
            # the literal from epoch micros: F.lit of the naive-UTC
            # pandas Timestamp would go through time.mktime and shift by
            # the host's UTC offset
            cutoff = F.timestamp_micros(F.lit(head["cutoff"].value // 1000))
            emit = combined.filter(F.col("ts") < cutoff)
            held = combined.filter(F.col("ts") >= cutoff)
        out = fsutil.gen_path(held_root, batch_id)
        held.write.mode("overwrite").parquet(out)
        if emit is not None:
            self._process_partitioned(emit)
        fsutil.gen_commit(spark, out)
        fsutil.gen_gc(spark, held_root, keep=1)

    def _finalize_partitioned(self):
        if not (self.cfg.reorder_across_batches
                and self.cfg.reorder_state_path):
            return
        from pyspark.sql import SparkSession

        from .. import fsutil
        # a restarted stream with no new input runs no batch, yet its
        # committed tail must still drain: fall back to the active session
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "finalize() drains the partitioned reorder state with the "
                "SparkSession of the last process_batch or the active one; "
                "no batch has run on this engine and no session is active")
        root = self._state_root(spark)
        _, tail = fsutil.gen_latest(spark, root + "/held")
        if tail is not None:
            self._process_partitioned(
                spark.read.schema(self._HELD_SCHEMA).parquet(tail))
        fsutil.delete(spark, root)        # stream over: clear the state

    def _emit_pdf(self, pdf):
        import numpy as np
        ts_col = pdf["ts"]
        self._ensure_anchor(ts_col.iloc[0])
        # Vectorized pacing targets (RePlayer.java:132-143 semantics, batch
        # math): target wall clock per record, computed once as a numpy
        # array instead of per-row Timestamp arithmetic — the r3 per-record
        # loop was ~60% of the driver-mode emit time at 100k rows.
        offs = (ts_col - self._first_event_ts).dt.total_seconds().to_numpy()
        targets = (self._ingestion_start
                   + np.maximum(offs, 0.0) / self.cfg.speedup_factor)
        iso = _iso_strings(ts_col)
        payloads = pdf["payload"].values
        n, step = len(pdf), self.cfg.max_records_per_request
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            now = self.clock()
            if targets[hi - 1] > now:
                # chunk not yet fully due: pace each record (OP-RATE-PACE)
                for i in range(lo, hi):
                    gap = targets[i] - now
                    if gap > 0:
                        self.sleep(gap)
                        now = self.clock()
                    lag = now - targets[i]
                    if lag > self.stats.max_lag_s:
                        self.stats.max_lag_s = lag   # OP-AGG-LAG
            else:
                # whole chunk already due — no sleeps; the chunk head has
                # the earliest target hence the largest lag
                lag = now - targets[lo]
                if lag > self.stats.max_lag_s:
                    self.stats.max_lag_s = lag
            # watermark BEFORE the flush: a sink failure must leave
            # OP-AGG-MAXWM reflecting what was handed to the send path.
            # MAX, not assignment (r8 review): a beyond-window straggler
            # batch (reorder buffer's emit-late path) is entirely older
            # than what was already emitted — the watermark must not
            # move backward (the partitioned path already guards this).
            chunk_mx = ts_col.iloc[hi - 1]
            if (self.stats.max_emitted_ts is None
                    or chunk_mx > self.stats.max_emitted_ts):
                self.stats.max_emitted_ts = chunk_mx
            self._flush([{"payload": p, "ts": t}
                         for p, t in zip(payloads[lo:hi], iso[lo:hi])])
        self.stats.tick(n, self.clock(), self.cfg.statistics_frequency_ms)

    def _flush(self, records: list[dict]):
        send_with_retry(self.sink, records, self.cfg,
                        stats=self.stats.sink, sleep=self.sleep)

    # -- partitioned mode: per-sender pacing at scale ------------------------

    def _process_partitioned(self, batch_df: DataFrame):
        """Round-robin repartition into `sender_threads` partitions, sorted
        within each by ts, each paced independently against the shared
        anchor (the reference's sender fan-out: N threads draining one
        ts-ordered queue). The sink must be worker-constructible: a
        zero-arg factory is required.

        ONE scan per micro-batch once the anchor exists: the emit kernel
        is the only action, and the per-partition stats row it yields
        carries the partition min/max ts, so the watermark (OP-AGG-MAXWM)
        needs no separate aggregate job (the r3 min/max agg scanned every
        batch twice). The first-ever batch runs one min-only aggregate to
        establish the anchor — unless cfg.anchor_ts (e.g. the seek
        position) makes even that unnecessary — a one-time cost amortized
        over the stream."""
        cfg = self.cfg
        sink_factory = self.sink
        if not callable(sink_factory):
            raise TypeError("partitioned mode needs a sink FACTORY "
                            "(zero-arg callable usable on executors)")
        if self._first_event_ts is None:
            anchor = self._cfg_anchor()
            if anchor is None:
                # Anchor via Arrow toPandas, NOT collect(): collect()
                # renders timestamps as naive HOST-LOCAL datetimes
                # (TimestampType.fromInternal), while the Arrow kernel
                # below receives session-tz (UTC) values — mixing the two
                # skews every pacing target by the host's UTC offset.
                bpdf = batch_df.agg(F.min("ts").alias("mn")).toPandas()
                anchor = bpdf["mn"].iloc[0]
                if anchor is None or bpdf["mn"].isna().iloc[0]:
                    return
            self._first_event_ts = anchor
            self._ingestion_start = self.clock()
        first_ts = self._first_event_ts
        ingestion_start_wall = time.time() - (self.clock() - self._ingestion_start)
        speedup = cfg.speedup_factor
        max_per_request = cfg.max_records_per_request

        # hash-partition on ts (NOT round-robin, whose determinism guard
        # local-sorts every input partition by all columns — payload bytes
        # included; NOT repartitionByRange, which needs a sampling job and
        # leaves sender k idle until fraction k/N of the span has elapsed):
        # each sender gets a uniform slice of the whole time span, sorted
        # within, so all N senders emit on schedule concurrently.
        shaped = (batch_df.select("payload", "ts")
                  .repartition(cfg.sender_threads, F.col("ts"))
                  .sortWithinPartitions("ts"))

        # Arrow-batched emit kernel: record bytes reach Python as columnar
        # batches, pacing targets are computed as one numpy array per Arrow
        # batch (the r3 kernel did per-row Timestamp arithmetic), and the
        # per-record sleep loop only runs for slices not yet due. One stats
        # row per partition (counts + min/max ts) comes back through the
        # same action — no accumulators, no second job.
        def _emit(batches):
            import numpy as np
            import pandas as pd
            sink = sink_factory()
            part_stats = SinkStats()
            buf_p: list = []
            buf_t: list = []
            n = 0
            mn = mx = None

            def _flush():
                send_with_retry(
                    sink,
                    [{"payload": p, "ts": t} for p, t in zip(buf_p, buf_t)],
                    cfg, stats=part_stats)
                buf_p.clear()
                buf_t.clear()

            for pdf in batches:
                if pdf.empty:
                    continue
                ts_col = pdf["ts"]
                if mn is None:
                    mn = ts_col.iloc[0]       # sorted within partition
                mx = ts_col.iloc[-1]
                offs = (ts_col - first_ts).dt.total_seconds().to_numpy()
                targets = (ingestion_start_wall
                           + np.maximum(offs, 0.0) / speedup)
                iso = _iso_strings(ts_col)
                payloads = pdf["payload"].values
                m = len(pdf)
                n += m
                i = 0
                while i < m:
                    j = min(m, i + max_per_request - len(buf_p))
                    now = time.time()
                    if targets[j - 1] > now:          # OP-RATE-PACE
                        for k in range(i, j):
                            gap = targets[k] - now
                            if gap > 0:
                                time.sleep(gap)
                                now = time.time()
                    buf_p.extend(payloads[i:j])
                    buf_t.extend(iso[i:j])
                    if len(buf_p) >= max_per_request:
                        _flush()
                    i = j
            if buf_p:
                _flush()
            yield pd.DataFrame({
                "n": [n], "requests": [part_stats.requests],
                "retried": [part_stats.retried_records],
                "sent": [part_stats.records_sent],
                "mn": [mn], "mx": [mx]})

        import pandas as pd

        # one stats row per sender partition, summed here on the driver:
        # a Spark-side agg would add a final shuffle (and, under AQE, a
        # job) to every batch for `sender_threads` rows. toPandas, not
        # collect(): the mx timestamp must come back through Arrow as
        # naive-UTC to stay comparable with driver-mode watermarks
        parts = shaped.mapInPandas(
            _emit, "n long, requests long, retried long, sent long, "
                   "mn timestamp, mx timestamp").toPandas()
        n_events = int(parts["n"].sum())
        self.stats.sink.requests += int(parts["requests"].sum())
        self.stats.sink.retried_records += int(parts["retried"].sum())
        self.stats.sink.records_sent += int(parts["sent"].sum())
        batch_mx = parts["mx"].max()
        if not pd.isna(batch_mx) and (self.stats.max_emitted_ts is None
                                      or batch_mx > self.stats.max_emitted_ts):
            self.stats.max_emitted_ts = batch_mx        # OP-AGG-MAXWM
        self.stats.tick(n_events, self.clock(),
                        cfg.statistics_frequency_ms)


def run_replay_stream(events: DataFrame, engine: ReplayEngine,
                      checkpoint_dir: str, available_now: bool = True):
    """Wire a streaming (payload, ts) DataFrame into the replay engine via
    foreachBatch and run it. With available_now the query drains all input
    respecting maxFilesPerTrigger, then stops — the batch-to-stream
    conversion the reference performs, finite-input edition."""
    writer = (events.writeStream
              .foreachBatch(engine)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return query
