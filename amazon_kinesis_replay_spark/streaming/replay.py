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

Two emission modes, one emission kernel (`_pace_and_send`: pacing,
request batching, per-request stats) and one opt-in cross-batch reorder
gate (`_process_gated`: the bounded window held on the driver, durable
as one parquet file per batch in `reorder_state_path`; driver mode
gates its one bounded collect of each batch on the driver, partitioned
mode runs one top-k job plus the emit per batch):

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
from ..session import drop_zip_finders
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

    def fold(self, max_ts, lag: float):
        """Fold a request's (or a sender's) watermark and lag in by MAX:
        a beyond-window straggler batch (the reorder gate's emit-late
        path) is older than what was already emitted, and the watermark
        must not move back (OP-AGG-MAXWM, OP-AGG-LAG). `max_ts` may be
        None or NaT for an empty sender."""
        import pandas as pd
        if not pd.isna(max_ts) and (self.max_emitted_ts is None
                                    or max_ts > self.max_emitted_ts):
            self.max_emitted_ts = max_ts
        if lag > self.max_lag_s:
            self.max_lag_s = lag


def _pace_and_send(pdfs, sink, cfg: ReplayConfig, first_ts, start: float,
                   stats: ReplayStats) -> int:
    """The emission kernel of both modes: pace each ts-sorted record to
    its target wall clock `start + (ts - first_ts) / speedup`
    (OP-RATE-PACE, RePlayer.java:132-143), hand it to a request of at
    most `max_records_per_request` records (a request may span frames),
    and send each request with `send_with_retry`. Returns the number of
    records. Driver mode passes its one sorted frame; partitioned mode
    passes a sender partition's Arrow batches.

    Targets are one numpy array per frame, and the per-record sleep loop
    runs only for a slice not yet fully due; the sleep always comes
    before the hand-off, so no record is sent early. Each request's
    watermark and lag are folded into `stats` BEFORE it is sent, so a
    sink failure leaves OP-AGG-MAXWM at what was handed to the send
    path."""
    import numpy as np
    cap = cfg.max_records_per_request
    buf_p: list = []
    buf_t: list = []
    buf_mx, buf_lag = None, 0.0
    n = 0

    def send():
        nonlocal buf_lag
        stats.fold(buf_mx, buf_lag)
        send_with_retry(sink, [{"payload": p, "ts": t}
                               for p, t in zip(buf_p, buf_t)],
                        cfg, stats=stats.sink)
        buf_p.clear()
        buf_t.clear()
        buf_lag = 0.0

    for pdf in pdfs:
        if pdf.empty:
            continue
        ts_col = pdf["ts"]
        offs = (ts_col - first_ts).dt.total_seconds().to_numpy()
        targets = start + np.maximum(offs, 0.0) / cfg.speedup_factor
        iso = _iso_strings(ts_col)
        payloads = pdf["payload"].values
        m = len(pdf)
        n += m
        i = 0
        while i < m:
            j = min(m, i + cap - len(buf_p))
            now = time.time()
            # the slice head has the earliest target, hence the largest
            # lag of any record not slept for
            lag = now - targets[i]
            if targets[j - 1] > now:
                for k in range(i, j):
                    gap = targets[k] - now
                    if gap > 0:
                        time.sleep(gap)
                        now = time.time()
                        lag = max(lag, now - targets[k])
            buf_p.extend(payloads[i:j])
            buf_t.extend(iso[i:j])
            buf_mx, buf_lag = ts_col.iloc[j - 1], max(buf_lag, lag)
            if len(buf_p) >= cap:
                send()
            i = j
    if buf_p:
        send()
    return n


def _epoch_schema():
    """The one Arrow schema of the gate's held rows: in the epoch file,
    on the driver, and handed back to Spark. ts is UTC-adjusted
    microseconds, the type Spark's parquet writer and `toArrow` give a
    timestamp under the UTC session timezone."""
    import pyarrow as pa
    return pa.schema([("payload", pa.string()),
                      ("ts", pa.timestamp("us", tz="UTC"))])


def _read_epoch(spark, epoch: str | None):
    """The held rows of epoch directory `epoch` (none when None) as one
    Arrow table of `_epoch_schema()`. Reads every data file of the
    epoch (every name not starting with `_` or `.`): `_write_epoch`
    leaves one, an epoch written by Spark's parquet writer several part
    files beside `_SUCCESS` and `.crc` files."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .. import fsutil
    schema = _epoch_schema()
    names = [] if epoch is None else sorted(
        n for n in fsutil.listdir(spark, epoch)
        if not n.startswith(("_", ".")))
    return pa.concat_tables(
        [pq.read_table(io.BytesIO(fsutil.read_bytes(spark, f"{epoch}/{n}")),
                       columns=schema.names).cast(schema) for n in names]
        or [schema.empty_table()])


def _write_epoch(spark, epoch: str, held) -> None:
    """Write the Arrow table `held` as the one data file of epoch
    directory `epoch`, replacing whatever an uncommitted build left
    there."""
    import io

    import pyarrow.parquet as pq

    from .. import fsutil
    buf = io.BytesIO()
    pq.write_table(held, buf)
    fsutil.delete(spark, epoch)
    fsutil.write_bytes(spark, f"{epoch}/held.parquet", buf.getvalue())


def _frame(table):
    """A (payload, ts) Arrow table as the pandas frame the emission
    kernel paces: ts naive UTC nanoseconds, as Arrow `toPandas` gives it
    under the UTC session timezone."""
    import pyarrow as pa
    return table.cast(pa.schema(
        [("payload", pa.string()), ("ts", pa.timestamp("ns"))])).to_pandas()


class LegacyReorderStateError(RuntimeError):
    """The reorder state dir was written in the old layout (a root
    `applied/` marker), which this gate does not read."""


class ReplayEngine:
    """Stateful cross-batch replay: holds the ingestion anchor exactly like
    the reference's parser (first parsed event + wall clock at construction,
    JsonEvent.java:70-71,91-93) and paces each micro-batch.

    Use as the foreachBatch callback: ``stream.foreachBatch(engine)``.
    """

    def __init__(self, cfg: ReplayConfig, sink, mode: str = "driver"):
        if mode not in ("driver", "partitioned"):
            raise ValueError(f"unknown replay mode {mode!r}")
        # finalize() paces the held tail (at least reader_buffer_size
        # rows) as ONE frame, and driver_mode_max_rows bounds every
        # frame driver mode paces
        if (mode == "driver" and cfg.reorder_across_batches
                and cfg.reader_buffer_size >= cfg.driver_mode_max_rows):
            raise ValueError(
                f"driver-mode reorder holds reader_buffer_size="
                f"{cfg.reader_buffer_size} rows and drains them as one "
                f"frame, which driver_mode_max_rows="
                f"{cfg.driver_mode_max_rows} refuses; lower "
                "reader_buffer_size below driver_mode_max_rows or use "
                "mode='partitioned'")
        self.cfg = cfg
        self.sink = sink
        self.mode = mode
        self.stats = ReplayStats()
        self._first_event_ts = None        # event-time anchor
        self._ingestion_start = None       # wall-clock anchor, time.time()
        self._spark = None                 # session of the last gated batch

    # -- anchor management (OP-PROJ-INGEST) --------------------------------

    def _ensure_anchor(self, batch_min) -> bool:
        """Anchor once, for both modes: on `cfg.anchor_ts` (parsed as
        UTC), else on the batch minimum `batch_min()`, and on the wall
        clock at that moment. At 100 TB the replay start is KNOWN (you
        seeked to it), so an explicit anchor means no scan ever runs to
        find the minimum; `batch_min` is called only while unanchored.
        Both modes pace on `time.time()`: partitioned mode paces in
        executor processes, which share no monotonic clock with the
        driver. Returns False while there is no anchor (an empty first
        batch)."""
        if self._first_event_ts is None:
            import pandas as pd
            if self.cfg.anchor_ts:
                anchor = pd.Timestamp(self.cfg.anchor_ts)
                if anchor.tzinfo is not None:
                    # normalize to the naive-UTC convention Arrow toPandas
                    # / mapInPandas use under the UTC session timezone
                    anchor = anchor.tz_convert("UTC").tz_localize(None)
            else:
                anchor = batch_min()
            if pd.isna(anchor):
                return False
            self._first_event_ts = anchor
            self._ingestion_start = time.time()
        return True

    # -- foreachBatch entry --------------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int):
        self.process_batch(batch_df, batch_id)

    def process_batch(self, batch_df: DataFrame, batch_id: int):
        if self.cfg.reorder_across_batches:
            self._process_gated(batch_df, batch_id)
        else:
            self._emit_frame(batch_df)
        self.stats.batches += 1

    def _emit_frame(self, df: DataFrame):
        """Pace one (payload, ts) frame into the sink with the mode's
        emitter."""
        if self.mode == "driver":
            self._process_driver(df)
        else:
            self._process_partitioned(df)

    # -- driver mode: exact global-order pacing ------------------------------

    def _process_driver(self, batch_df: DataFrame):
        self._send_sorted(_frame(self._collect_sorted(batch_df)))

    def _collect_sorted(self, df: DataFrame):
        """The (payload, ts) rows of `df` on the driver, sorted by ts, as
        one Arrow table: ONE job, with the size guard folded into the
        collect as LIMIT bound+1 — at most bound+1 (sorted) rows ever
        cross to the driver, and an oversized frame is detected from the
        collected length instead of a separate probe job (the r3 probe
        was a second scan of the source per batch). Timestamps arrive in
        the SESSION timezone (UTC per ensure_engine_conf), so emitted ts
        strings are deterministic UTC regardless of host TZ — the
        pre-Arrow collect() path rendered them in host-local time."""
        bound = self.cfg.driver_mode_max_rows
        table = (df.select("payload", "ts")
                 .orderBy(F.col("ts").asc())          # OP-SORT-EVENTTIME
                 .limit(bound + 1)
                 .toArrow())
        self._refuse_over_driver_bound(table.num_rows)
        return table

    def _refuse_over_driver_bound(self, n: int):
        """Driver mode paces every frame from the driver: refuse one of
        more than `driver_mode_max_rows` rows, a collected micro-batch
        and the gate's drained tail alike."""
        bound = self.cfg.driver_mode_max_rows
        if n > bound:
            raise ValueError(
                f"driver-mode replay refuses a micro-batch or held tail "
                f"exceeding driver_mode_max_rows={bound}: it would be "
                "paced from the driver as one frame. Use "
                "mode='partitioned' (per-sender pacing, executor-side "
                "sinks) or raise driver_mode_max_rows explicitly.")

    def _send_sorted(self, pdf):
        """Pace one ts-sorted (payload, ts) pandas frame from the driver."""
        self._refuse_over_driver_bound(len(pdf))
        if pdf.empty or not self._ensure_anchor(lambda: pdf["ts"].min()):
            return
        n = _pace_and_send([pdf], self.sink, self.cfg, self._first_event_ts,
                           self._ingestion_start, self.stats)
        self.stats.tick(n, time.time(), self.cfg.statistics_frequency_ms)

    # -- the durable cross-batch reorder gate (both modes) -------------------

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

    def _process_gated(self, batch_df: DataFrame, batch_id: int):
        """The reference's bounded priority queue
        (JsonEventBufferedReader.java:39, RePlayer.java:26) at
        micro-batch granularity, for both modes: hold back the ts-LARGEST
        `reader_buffer_size` rows of (held ∪ batch) as a durable epoch
        and hand only the older prefix to the mode's emitter. A row is
        emitted only once at least `reader_buffer_size` later-or-equal
        rows exist — the poll-when-full rule — so disorder within the
        window is repaired across micro-batches (per-batch sorting alone
        cannot) and disorder beyond it emits late, never drops. Held rows
        whose targets are still in the future lose nothing: pacing, not
        arrival, schedules their emission. Call `finalize()` after the
        stream terminates to drain the tail.

        - the window lives on the driver, as the reference's queue lives
          in its one process: at most `reader_buffer_size` held rows plus
          the rows tied at the cutoff, one Arrow table of
          `_epoch_schema()`, read from and written to the epoch file with
          pyarrow through the Hadoop FS API. Driver mode paces every
          batch row from the driver anyway, so a steady batch is its one
          bounded collect, gated and paced there. In partitioned mode a
          steady batch is two Spark jobs, each a scan of the batch's
          source: the `bound + 1` newest batch rows (Arrow), then the
          emit of `batch.filter(ts < cutoff)` and the released held
          rows. Only a batch whose (bound+1)-th newest row sits AT the
          cutoff runs a third, which fetches the batch rows at the
          cutoff.
        - the split is by ts VALUE (cutoff = the bound-th largest ts),
          not row count: a row-count split of a distributed frame is
          nondeterministic under ties, a ts cutoff is not. Ties at the
          cutoff ride the buffer (window >= bound rows, never < bound);
          equal-ts rows lose their arrival order, for which the
          reference's PriorityBlockingQueue makes no promise either.
        - state is one parquet epoch per batch, held/gen=<batch_id>, and
          an epoch is APPLIED iff it holds the generation commit marker
          (`fsutil.gen_commit`), written after both the emit and the
          epoch write. A redelivered batch either skips entirely (its
          epoch is committed: state and emit already done) or recomputes
          bit-identically from the previous committed epoch and
          overwrites its own uncommitted one. The marker and the state
          share one directory, so they cannot disagree, and a restart
          from the stream's checkpoint finds the rows held from its
          committed batches. Sink emission stays at-least-once (a crash
          between emit and commit re-emits), the same contract as
          send_with_retry.
        """
        from .. import fsutil
        spark = self._spark = batch_df.sparkSession
        held_root = self._state_root(spark) + "/held"
        applied, prev = fsutil.gen_latest(spark, held_root)
        if applied >= batch_id:
            return                      # redelivery of an applied batch
        held = _read_epoch(spark, prev)
        batch = batch_df.select("payload", "ts") \
            .filter(F.col("ts").isNotNull())
        out = fsutil.gen_path(held_root, batch_id)
        if self.mode == "driver":
            # driver mode paces every batch row from the driver anyway:
            # its one bounded collect brings the whole batch
            self._gate(spark, out, held, self._collect_sorted(batch), None)
        else:
            # every batch row the window can keep, and one more that tells
            # whether rows at the cutoff were left out
            self._gate(spark, out, held,
                       batch.orderBy(F.col("ts").desc())
                       .limit(max(1, self.cfg.reader_buffer_size) + 1)
                       .toArrow(), batch)
        fsutil.gen_commit(spark, out)
        fsutil.gen_gc(spark, held_root)

    def _gate(self, spark, out: str, held, rows, batch):
        """Cut held ∪ `rows` at the window's cutoff on the driver, write
        what stays held as epoch `out`, and emit the rest. `rows` is the
        whole batch (driver mode, `batch` None) or its `bound + 1`
        newest rows (partitioned mode, `batch` the batch the emit
        reads)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        schema = _epoch_schema()
        rows = rows.cast(schema)
        bound = max(1, self.cfg.reader_buffer_size)
        ts = np.concatenate([held["ts"].to_numpy(), rows["ts"].to_numpy()])
        if len(ts) < bound:             # window not yet full: hold all
            _write_epoch(spark, out, pa.concat_tables([held, rows]))
            return
        cutoff = int(np.partition(ts, len(ts) - bound)[len(ts) - bound]
                     .astype("int64"))
        at = pa.scalar(cutoff, schema.field("ts").type)
        # the literal from epoch micros: F.lit of a Python datetime would
        # go through time.mktime and shift by the host's UTC offset
        lit = F.timestamp_micros(F.lit(cutoff))
        kept = rows.filter(pc.greater_equal(rows["ts"], at))
        if batch is not None and rows.num_rows > bound \
                and pc.min(rows["ts"]) == at:
            kept = pa.concat_tables([
                rows.filter(pc.greater(rows["ts"], at)),
                batch.filter(F.col("ts") == lit).toArrow().cast(schema)])
        older = held.filter(pc.less(held["ts"], at))
        _write_epoch(spark, out, pa.concat_tables(
            [held.filter(pc.greater_equal(held["ts"], at)), kept]))
        if batch is None:
            below = rows.filter(pc.less(rows["ts"], at))
            self._send_sorted(_frame(
                pa.concat_tables([older, below]).sort_by("ts")))
            return
        emit = batch.filter(F.col("ts") < lit)
        if older.num_rows:
            emit = emit.unionByName(spark.createDataFrame(older))
        self._process_partitioned(emit)

    def finalize(self):
        """Drain the reorder gate — the reference drains its priority
        queue when the S3 iterator is exhausted; a finite (availableNow)
        stream calls this after awaitTermination. Reads the committed
        held tail onto the driver, paces it from there (driver mode,
        which refuses a tail over `driver_mode_max_rows` like any frame
        it paces) or hands it to the partitioned emitter, and then
        deletes the state directory (the stream is over); a crash
        between the drain emit and the delete redelivers on the next
        finalize — at-least-once, like every sink path here. It reads
        the state with the session of the last `process_batch`, else the
        active session (a restart with no new input runs no batch), and
        raises when there is neither. A no-op without
        `reorder_across_batches`."""
        if not self.cfg.reorder_across_batches:
            return
        from pyspark.sql import SparkSession

        from .. import fsutil
        # a restarted stream with no new input runs no batch, yet its
        # committed tail must still drain: fall back to the active session
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "finalize() drains the reorder state with the "
                "SparkSession of the last process_batch or the active one; "
                "no batch has run on this engine and no session is active")
        root = self._state_root(spark)
        _, tail = fsutil.gen_latest(spark, root + "/held")
        held = _read_epoch(spark, tail)
        if self.mode == "driver":
            # the tail is on the driver already: pace it from there
            self._send_sorted(_frame(held.sort_by("ts")))
        elif held.num_rows:
            self._process_partitioned(spark.createDataFrame(held))
        fsutil.delete(spark, root)        # stream over: clear the state

    # -- partitioned mode: per-sender pacing at scale ------------------------

    def _process_partitioned(self, batch_df: DataFrame):
        """Hash-partition on ts into `sender_threads` partitions, sorted
        within each by ts, each paced by `_pace_and_send` against the
        shared anchor (the reference's sender fan-out: N threads draining
        one ts-ordered queue). The sink must be worker-constructible: a
        zero-arg factory is required.

        ONE scan per micro-batch once the anchor exists: the emit kernel
        is the only action, and each partition yields one stats row
        (counts, its max ts and its max lag), so the watermark
        (OP-AGG-MAXWM) needs no separate aggregate job. The first-ever
        batch runs one min-only aggregate to establish the anchor —
        unless cfg.anchor_ts (e.g. the seek position) makes even that
        unnecessary — a one-time cost amortized over the stream."""
        cfg = self.cfg
        sink_factory = self.sink
        if not callable(sink_factory):
            raise TypeError("partitioned mode needs a sink FACTORY "
                            "(zero-arg callable usable on executors)")
        # Anchor via Arrow toPandas, NOT collect(): collect() renders
        # timestamps as naive HOST-LOCAL datetimes
        # (TimestampType.fromInternal), while the Arrow kernel below
        # receives session-tz (UTC) values — mixing the two skews every
        # pacing target by the host's UTC offset.
        if not self._ensure_anchor(lambda: batch_df.agg(
                F.min("ts").alias("ts")).toPandas()["ts"].iloc[0]):
            return
        # locals, so the executor closure does not pickle the engine
        first_ts, start = self._first_event_ts, self._ingestion_start

        # hash-partition on ts (NOT round-robin, whose determinism guard
        # local-sorts every input partition by all columns — payload bytes
        # included; NOT repartitionByRange, which needs a sampling job and
        # leaves sender k idle until fraction k/N of the span has elapsed):
        # each sender gets a uniform slice of the whole time span, sorted
        # within, so all N senders emit on schedule concurrently.
        shaped = (batch_df.select("payload", "ts")
                  .repartition(cfg.sender_threads, F.col("ts"))
                  .sortWithinPartitions("ts"))

        def _emit(batches):
            import pandas as pd
            drop_zip_finders()
            st = ReplayStats()
            n = _pace_and_send(batches, sink_factory(), cfg, first_ts, start,
                               st)
            yield pd.DataFrame({
                "n": [n], "requests": [st.sink.requests],
                "retried": [st.sink.retried_records],
                "sent": [st.sink.records_sent],
                "mx": [st.max_emitted_ts], "lag": [st.max_lag_s]})

        # one stats row per sender partition, summed here on the driver:
        # a Spark-side agg would add a final shuffle (and, under AQE, a
        # job) to every batch for `sender_threads` rows. toPandas, not
        # collect(): the mx timestamp must come back through Arrow as
        # naive-UTC to stay comparable with driver-mode watermarks
        parts = shaped.mapInPandas(
            _emit, "n long, requests long, retried long, sent long, "
                   "mx timestamp, lag double").toPandas()
        self.stats.sink.requests += int(parts["requests"].sum())
        self.stats.sink.retried_records += int(parts["retried"].sum())
        self.stats.sink.records_sent += int(parts["sent"].sum())
        self.stats.fold(parts["mx"].max(), parts["lag"].max())
        self.stats.tick(int(parts["n"].sum()), time.time(),
                        cfg.statistics_frequency_ms)


def run_replay_stream(events: DataFrame, engine: ReplayEngine,
                      checkpoint_dir: str):
    """Wire a streaming (payload, ts) DataFrame into the replay engine via
    foreachBatch and run it. The availableNow trigger drains all input
    respecting maxFilesPerTrigger, then stops — the batch-to-stream
    conversion the reference performs, finite-input edition."""
    return (events.writeStream
            .foreachBatch(engine)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
