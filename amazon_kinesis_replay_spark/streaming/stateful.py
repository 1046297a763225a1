"""Stateful Structured Streaming operators.

The reference's only stateful constructs are the reorder buffer and the
monitoring counters (SURVEY §2.5-2.6); these operators provide their
principled streaming forms plus the cross-batch stateful primitives a
training-data ingest pipeline needs:

- ``windowed_rate_counts`` — OP-AGG-WINDOWCOUNT as a real streaming
  watermark + tumbling-window aggregation (late data beyond the watermark
  dropped; documented deviation from the reference's 100k-row buffer,
  SURVEY §2.8).
- ``dedup_stream`` — exact first-occurrence dedup across micro-batches via
  ``dropDuplicatesWithinWatermark`` semantics expressed with
  applyInPandasWithState (bounded state, per-key).
- ``running_counts_stream`` — the per-key running totals of
  RePlayer.java:115,146, kept as grouped state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType, TimestampType)


def windowed_rate_counts(events: DataFrame, ts_col: str = "ts",
                         frequency_ms: int = 20_000,
                         watermark_delay: str = "10 minutes") -> DataFrame:
    """Streaming tumbling-window counts + events/sec with a watermark.

    The watermark is Spark's bounded-disorder primitive — the principled
    version of the reference's 100,000-row reorder buffer
    (JsonEventBufferedReader.java:39-46; SURVEY §1.4 mapping).
    """
    freq_s = frequency_ms // 1000
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), f"{freq_s} seconds").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            F.round(F.col("n_events") * 1000.0 / F.lit(float(frequency_ms)))
            .cast("long").alias("events_per_sec"))
    )


def session_window_counts(events: DataFrame, key_col: str,
                          ts_col: str = "ts",
                          gap: str = "30 minutes",
                          watermark_delay: str = "10 minutes") -> DataFrame:
    """Streaming SESSION windows via the built-in F.session_window: one
    row per (key, session), where a session closes after `gap` of
    event-time silence — the streaming twin of the batch
    `user_event_windows` sessionization (same 30-min-gap semantics,
    expressed as window-merging state instead of a lag/cumsum window).
    State is bounded by the watermark: closed sessions emit and drop.

    At 100 TB this is the shape to prefer over applyInPandasWithState
    for sessionization — the merging logic runs in the JVM state store,
    no Python boundary at all."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.col(key_col),
                 F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.min(ts_col).alias("first_ts"),
             F.max(ts_col).alias("last_ts"))
        .select(F.col(key_col),
                F.unix_millis(F.col("w.start")).alias("session_start_ms"),
                F.unix_millis(F.col("w.end")).alias("session_end_ms"),
                "n_events", "first_ts", "last_ts")
    )


_DEDUP_OUT = StructType([
    StructField("key", StringType()),
    StructField("first_ts", TimestampType()),
])
_DEDUP_STATE = StructType([StructField("seen", LongType())])


def dedup_stream(events: DataFrame, key_col: str,
                 ts_col: str = "ts",
                 watermark_delay: str = "10 minutes") -> DataFrame:
    """Exact streaming dedup: emit each key's FIRST occurrence only, across
    micro-batches, with per-key grouped state (bounded by key cardinality;
    pair with a watermark-scoped key for unbounded streams).
    """

    def _dedup(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            for _ in pdfs:   # already emitted; drain
                pass
            yield pd.DataFrame({"key": [], "first_ts": []})
            return
        first_ts = None
        for pdf in pdfs:
            batch_min = pdf[ts_col].min()
            if first_ts is None or batch_min < first_ts:
                first_ts = batch_min
        state.update((1,))
        yield pd.DataFrame({"key": [key[0]], "first_ts": [first_ts]})

    return (
        events.withColumn("key", F.col(key_col).cast("string"))
        .withWatermark(ts_col, watermark_delay)
        .groupBy("key")
        .applyInPandasWithState(
            _dedup, _DEDUP_OUT, _DEDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


def dedup_stream_builtin(events: DataFrame, key_col: str,
                         ts_col: str = "ts",
                         watermark_delay: str = "10 minutes") -> DataFrame:
    """Built-in comparison point for `dedup_stream`:
    dropDuplicatesWithinWatermark keeps state only within the watermark
    horizon (bounded state for unbounded streams), where the
    applyInPandasWithState version holds keys forever. Prefer this for
    unbounded key spaces; prefer `dedup_stream` when the first-occurrence
    payload (e.g. first_ts) must be emitted."""
    return (events.withWatermark(ts_col, watermark_delay)
            .dropDuplicatesWithinWatermark([key_col]))


def attribute_stream(clicks: DataFrame, purchases: DataFrame,
                     user_col: str = "user_id", ts_col: str = "ts",
                     window: str = "1 hour",
                     watermark_delay: str = "10 minutes") -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase paired
    with same-user clicks in the preceding `window`.

    Both sides carry watermarks so Spark can bound the join state: click
    state is dropped once the purchase-side watermark passes click_ts +
    window (the range condition gives the planner the eviction bound).
    """
    c = clicks.select(F.col(user_col).alias("c_user"),
                      F.col(ts_col).alias("click_ts")) \
        .withWatermark("click_ts", watermark_delay)
    p = purchases.select(F.col(user_col).alias("p_user"),
                         F.col(ts_col).alias("purchase_ts")) \
        .withWatermark("purchase_ts", watermark_delay)
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") < F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {window}")))
    return c.join(p, cond)


_COUNT_OUT = StructType([
    StructField("key", StringType()),
    StructField("batch_events", LongType()),
    StructField("total_events", LongType()),
])
_COUNT_STATE = StructType([StructField("total", LongType())])


def running_counts_stream(events: DataFrame, key_col: str,
                          ts_col: str = "ts",
                          watermark_delay: str = "10 minutes") -> DataFrame:
    """Per-key running event totals across micro-batches (the streaming
    form of statisticsTotalEventCount, RePlayer.java:115,146, keyed)."""

    def _count(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n
        state.update((total,))
        yield pd.DataFrame({"key": [key[0]], "batch_events": [n],
                            "total_events": [total]})

    return (
        events.withColumn("key", F.col(key_col).cast("string"))
        .withWatermark(ts_col, watermark_delay)
        .groupBy("key")
        .applyInPandasWithState(
            _count, _COUNT_OUT, _COUNT_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


_REORDER_OUT = StructType([
    StructField("key", StringType()),
    StructField("ts", TimestampType()),
    StructField("payload", StringType()),
    StructField("emit_seq", LongType()),
])
_REORDER_STATE = StructType([
    StructField("held_ts_us", ArrayType(LongType())),
    StructField("held_payload", ArrayType(StringType())),
    StructField("held_arr", ArrayType(LongType())),
    StructField("next_arr", LongType()),
    StructField("next_emit", LongType()),
])


def reorder_gate_stream(events: DataFrame, bound: int,
                        key_col: str | None = None,
                        ts_col: str = "ts",
                        payload_col: str = "payload",
                        drain_after_ms: int | None = None) -> DataFrame:
    """Native stateful-streaming form of the cross-batch reorder buffer —
    the reference's row-count-bounded priority queue
    (JsonEventBufferedReader.java:39, RePlayer.java:26) expressed as
    applyInPandasWithState, so the repair rides INSIDE a Structured
    Streaming pipeline (no engine loop, no foreachBatch): a row is
    emitted only once `bound` later-or-equal rows have been seen
    (poll-when-full), so disorder within the window is repaired across
    micro-batches and disorder beyond it emits late, never drops.

    Semantics match the engine-loop gates (pinned by the twin test):
    a stable (ts, arrival-counter) merge and a row-count split. The
    persisted arrival counter keeps equal-ts ties stable ACROSS
    micro-batches (held rows always outrank later arrivals — a bare
    sort inside the state function would lose that); WITHIN one
    micro-batch, rows reach the state function in post-shuffle order,
    so intra-batch tie order is engine-arbitrary — unlike the
    engine-loop gates, which see the source serially. Emitted ts
    VALUES are unaffected (ties are equal by definition); callers
    needing byte-stable intra-batch tie order should carry their own
    source sequence column as part of ts.

    `key_col=None` is the reference-faithful GLOBAL buffer (one state
    row — same single-queue bottleneck as the reference's JVM). The
    scale path is a real key (shard / partition_key): state then
    distributes across the state store, each key repairing its own
    stream, which is the only reorder contract that shards at 100 TB
    anyway (a global total order over executors is a single-writer
    bottleneck by definition).

    `emit_seq` is a per-key monotone emission counter persisted in
    state: downstream consumers (and the test) can verify global
    ts-nondecreasing emission without trusting sink arrival order.

    Drain: with `drain_after_ms` set, a key idle for that long emits
    its whole held tail on the next micro-batch (processing-time
    timeout) and clears state — the streaming analogue of
    `ReplayEngine.finalize()`. Without it, a finite stream's tail stays
    in the checkpointed state store (restart-safe, never lost)."""
    bound = max(1, int(bound))

    def _gate(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            ts_us, payloads, arrs, _na, next_emit = state.get
            order = sorted(range(len(ts_us)),
                           key=lambda i: (ts_us[i], arrs[i]))
            state.remove()
            yield pd.DataFrame({
                "key": [key[0]] * len(order),
                "ts": pd.to_datetime([ts_us[i] for i in order], unit="us"),
                "payload": [payloads[i] for i in order],
                "emit_seq": [next_emit + j for j in range(len(order))]})
            return
        if state.exists:
            held_ts, held_pl, held_arr, next_arr, next_emit = state.get
            ts_us = list(held_ts)
            payloads = list(held_pl)
            arrs = list(held_arr)
        else:
            ts_us, payloads, arrs, next_arr, next_emit = [], [], [], 0, 0
        for pdf in pdfs:
            batch_us = (pdf[ts_col].astype("datetime64[ns]")
                        .astype("int64") // 1000)
            for t, p in zip(batch_us.tolist(), pdf[payload_col].tolist()):
                ts_us.append(int(t))
                payloads.append(p)
                arrs.append(next_arr)
                next_arr += 1
        order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], arrs[i]))
        n_emit = max(0, len(order) - bound)
        emit, hold = order[:n_emit], order[n_emit:]
        state.update(([ts_us[i] for i in hold],
                      [payloads[i] for i in hold],
                      [arrs[i] for i in hold],
                      next_arr, next_emit + n_emit))
        if drain_after_ms is not None:
            state.setTimeoutDuration(int(drain_after_ms))
        yield pd.DataFrame({
            "key": [key[0]] * n_emit,
            "ts": pd.to_datetime([ts_us[i] for i in emit], unit="us"),
            "payload": [payloads[i] for i in emit],
            "emit_seq": [next_emit + j for j in range(n_emit)]})

    keyed = events.withColumn(
        "key", F.col(key_col).cast("string") if key_col else F.lit(""))
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if drain_after_ms is not None
               else GroupStateTimeout.NoTimeout)
    return keyed.groupBy("key").applyInPandasWithState(
        _gate, _REORDER_OUT, _REORDER_STATE,
        outputMode="append", timeoutConf=timeout)


def windowed_rate_counts_gated(events: DataFrame, bound: int,
                               key_col: str | None = None,
                               ts_col: str = "ts",
                               payload_col: str = "payload",
                               frequency_ms: int = 20_000,
                               drain_after_ms: int | None = None
                               ) -> DataFrame:
    """`windowed_rate_counts` with the reference's emit-late-NEVER-drop
    contract (r8 verdict item 4): the reorder gate
    (`reorder_gate_stream` — the bounded priority queue of
    JsonEventBufferedReader.java:39-46) runs AHEAD of the tumbling-window
    aggregation, and the aggregation itself carries NO watermark, so

    - disorder within `bound` rows is structurally repaired before the
      aggregation ever sees it, and
    - disorder beyond the bound emits LATE from the gate and still
      lands in its window's count — the window row re-emits with the
      corrected total (update semantics), exactly how the reference's
      monitoring counters treat a late row (counted, never dropped).

    The plain `windowed_rate_counts` keeps Spark's watermark semantics
    (beyond-watermark rows DROP — bounded state, append output); this
    gated form is the reference-parity opt-in. The costs of parity:
    aggregation state is never watermark-evicted (bounded by the number
    of distinct windows — monitoring-scale, a few rows per
    frequency_ms interval of stream history), the query must run in
    update/complete output mode (a closed window can reopen), and held
    gate rows ride the state store (bounded rows per key).

    Chaining is legal Structured Streaming: applyInPandasWithState in
    append mode followed by an aggregation is a supported stateful
    composition; the gate's output timestamp is a plain event-time
    column to the downstream groupBy(window(...)).
    """
    gated = reorder_gate_stream(events, bound, key_col=key_col,
                                ts_col=ts_col, payload_col=payload_col,
                                drain_after_ms=drain_after_ms)
    freq_s = frequency_ms // 1000
    return (
        gated.groupBy(F.window(F.col("ts"), f"{freq_s} seconds").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            F.round(F.col("n_events") * 1000.0 / F.lit(float(frequency_ms)))
            .cast("long").alias("events_per_sec"))
    )


def session_window_counts_gated(events: DataFrame, bound: int,
                                key_col: str,
                                ts_col: str = "ts",
                                payload_col: str = "payload",
                                gap: str = "30 minutes",
                                drain_after_ms: int | None = None
                                ) -> DataFrame:
    """`session_window_counts` with the emit-late-never-drop contract —
    the session sibling of `windowed_rate_counts_gated` (r9): the
    reorder gate runs ahead of the session aggregation and the
    aggregation carries NO watermark, so a beyond-watermark straggler
    still lands in (or extends, or merges) its session instead of being
    dropped; the affected session row re-emits with the corrected
    bounds/count (update/complete semantics — feasibility measured:
    Spark 4 accepts session_window aggregation without a watermark
    downstream of applyInPandasWithState in complete mode).

    Costs of parity, same as the windowed form: session state is never
    watermark-evicted (bounded by #open sessions per key — a closed
    session can always reopen), and the query must run update/complete.
    The gate is keyed by `key_col`, so repair state distributes."""
    gated = reorder_gate_stream(events, bound, key_col=key_col,
                                ts_col=ts_col, payload_col=payload_col,
                                drain_after_ms=drain_after_ms)
    return (
        gated.groupBy(F.col("key").alias(key_col),
                      F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("first_ts"),
             F.max("ts").alias("last_ts"))
        .select(F.col(key_col),
                F.unix_millis(F.col("w.start")).alias("session_start_ms"),
                F.unix_millis(F.col("w.end")).alias("session_end_ms"),
                "n_events", "first_ts", "last_ts")
    )


def near_dup_stream(docs, index_path: str, sink,
                    id_col: str = "doc_id", text_col: str = "text",
                    threshold: float = 0.5, checkpoint: str | None = None):
    """Streaming near-duplicate detection: each micro-batch of documents
    is deduplicated INCREMENTALLY against the persisted MinHash-LSH index
    (operators.dedup.minhash_index_write / minhash_dedup_incremental) —
    the streaming shape of corpus dedup, where every arriving batch is
    checked against everything ever seen without re-shingling history.

    The first batch bootstraps the index (writes its LSH state, emits its
    within-batch pairs); later batches probe + append. State lives in the
    index directory, not the state store, so it survives restarts and is
    shared with batch consumers. All index probes go through the Hadoop
    FileSystem API (`fsutil`), not the driver's local `os.path` — the
    index may be on HDFS/S3 where a local check is always False and would
    silently re-bootstrap every batch (r6 ADVICE).

    Replay semantics: foreachBatch is at-least-once, and the index append
    is a side effect — so the stream records the last-APPLIED batch_id in
    the index (`applied/`, written right after the append). A replayed
    batch (batch_id <= recorded) probes WITHOUT appending, so its LSH
    state is never added twice, and re-emits the same deterministic pair
    set (deduplicated, because the index already holds the batch's
    arrays). The only residual window is a crash between the append and
    the marker write — one possible duplicate append per crash, bounded,
    and flagged here rather than hidden. End-to-end exactly-once then
    needs an idempotent `sink` (e.g. overwrite-by-batch-id).

    Contract: the applied-marker ties the index to ONE streaming lineage
    — to continue an existing index after a restart, reuse the same
    `checkpoint` so batch_ids keep increasing. Starting a brand-new query
    (fresh checkpoint, batch_ids from 0) against a populated index will
    probe-only until the new batch_ids pass the recorded watermark.

    `sink(pairs_df, batch_id)` receives the verified (id_a, id_b,
    jaccard) pairs involving the batch. Returns the DataStreamWriter
    (caller starts it)."""
    _process = _near_dup_processor(index_path, sink, id_col, text_col,
                                   threshold)
    w = docs.writeStream.foreachBatch(_process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def _indexed_stream_processor(index_path: str, sink, bootstrap, incremental,
                              probe_subdir: str = "meta",
                              replay_dedup_cols=("id_a", "id_b"),
                              heal=None):
    """Shared foreachBatch body for index-backed streaming dedup (MinHash
    text, embedding-cosine, and SimHash modalities): Hadoop-FS index
    probe, the applied-batch-id replay guard, and the replay pair-dedup,
    with the modality supplied as two callables —
    `bootstrap(batch_df) -> pairs` (must also WRITE the index, mode
    overwrite, `probe_subdir` last — its presence means "index
    complete") and `incremental(spark, batch_df, append, batch_id) ->
    pairs` (batch_id lets count-delta modalities name their delta dir
    idempotently — a replayed append then OVERWRITES its own delta).
    Module-level so replay/bootstrap idempotency is directly testable
    with static frames (a real streaming replay can't be forced
    deterministically). `heal` (optional, spark -> None) runs before the
    bootstrap probe — a modality whose index swap can crash mid-rename
    (the semantic retrain) must recover it HERE, because an absent
    probe_subdir would otherwise silently re-bootstrap over the
    recoverable history (r8 review finding)."""
    from .. import fsutil

    def _last_applied(spark) -> int:
        return fsutil.read_applied_batch(spark, index_path)

    def _record_applied(spark, batch_id: int) -> None:
        spark.createDataFrame([(int(batch_id),)], "batch_id long") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(index_path + "/applied")

    def _process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if heal is not None:
            heal(spark)
        # probe inside the RESOLVED data directory: after a retrain has
        # published a generation (fsutil.gen_*), the data subs live in
        # gen=N/, and probing the root would silently re-bootstrap over
        # the whole index history (the same failure class the r8 heal
        # review found for the crashed swap)
        base = fsutil.gen_resolve(spark, index_path)
        if not fsutil.has_committed_output(spark,
                                           f"{base}/{probe_subdir}"):
            # Bootstrap. The marker is written FIRST so a crash after the
            # (mode=overwrite, hence idempotent) index write replays as
            # batch_id <= recorded; a crash before the index write leaves
            # meta absent, so the replay re-bootstraps cleanly.
            _record_applied(spark, batch_id)
            pairs = bootstrap(batch_df)
        else:
            append = batch_id > _last_applied(spark)
            pairs = incremental(spark, batch_df, append, batch_id)
            if append:
                _record_applied(spark, batch_id)
            else:
                # Replay: the index already holds this batch's rows, so
                # the verify join sees each new id twice — collapse the
                # resulting duplicate pair rows (values are identical).
                # Modalities whose incremental is replay-exact on its own
                # (the substring-span path, which takes a `replay` flag
                # instead) pass replay_dedup_cols=None to skip this.
                if replay_dedup_cols is not None:
                    pairs = pairs.dropDuplicates(list(replay_dedup_cols))
        sink(pairs, batch_id)
        # The sink contract is consume-within-the-call, so the batch's
        # _staged_result barrier files are garbage now — without this a
        # long-running stream leaks one result dataset per micro-batch
        # into the index directory forever (r7 review finding).
        from ..operators.dedup import clear_staging
        clear_staging(spark, index_path)

    return _process


def _near_dup_processor(index_path: str, sink, id_col: str, text_col: str,
                        threshold: float):
    """MinHash-modality body of `near_dup_stream` (see
    `_indexed_stream_processor`)."""
    from ..operators import dedup

    def bootstrap(batch_df):
        dedup.minhash_index_write(batch_df, index_path, id_col, text_col)
        return dedup.minhash_dedup(batch_df, id_col, text_col,
                                   num_hashes=32, bands=16, k=3,
                                   threshold=threshold)

    def incremental(spark, batch_df, append, batch_id):
        return dedup.minhash_dedup_incremental(
            spark, batch_df, index_path, id_col, text_col, threshold,
            append=append)

    return _indexed_stream_processor(index_path, sink, bootstrap,
                                     incremental)


def near_dup_stream_embedding(emb, index_path: str, sink,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.4,
                              n_bands: int = 8, band_bits: int = 8,
                              checkpoint: str | None = None):
    """Streaming near-duplicate detection over an EMBEDDING stream — the
    sign-LSH twin of `near_dup_stream`: each micro-batch of vectors is
    checked incrementally against the persisted banded index
    (operators.dedup.embedding_index_write / embedding_dedup_incremental)
    with exact-cosine verification, so every arriving batch sees
    everything ever indexed without re-banding history. Index probing,
    replay idempotency (applied-batch-id marker), and the
    one-streaming-lineage contract are exactly `near_dup_stream`'s —
    see `_indexed_stream_processor`.

    `sink(pairs_df, batch_id)` receives the verified (id_a, id_b,
    cosine) pairs involving the batch. Returns the DataStreamWriter
    (caller starts it)."""
    _process = _near_dup_embedding_processor(
        index_path, sink, id_col, vec_col, threshold, n_bands, band_bits)
    w = emb.writeStream.foreachBatch(_process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def _near_dup_embedding_processor(index_path: str, sink, id_col: str,
                                  vec_col: str, threshold: float,
                                  n_bands: int, band_bits: int):
    """Embedding-modality body of `near_dup_stream_embedding` (see
    `_indexed_stream_processor`)."""
    from ..operators import dedup

    def bootstrap(batch_df):
        dedup.embedding_index_write(batch_df, index_path, n_bands,
                                    band_bits, id_col, vec_col)
        return dedup.embedding_cosine_dedup(
            batch_df, threshold=threshold, n_bands=n_bands,
            band_bits=band_bits, id_col=id_col, vec_col=vec_col)

    def incremental(spark, batch_df, append, batch_id):
        return dedup.embedding_dedup_incremental(
            spark, batch_df, index_path, threshold, id_col, vec_col,
            append=append)

    return _indexed_stream_processor(index_path, sink, bootstrap,
                                     incremental)


def pairs_parquet_sink(out_path: str):
    """Idempotent sink for the near-dup streams: each batch's pairs land
    in their own `batch_id=N` subdirectory with mode=overwrite, so an
    at-least-once REPLAY of a batch replaces its own output instead of
    appending duplicates — this is the overwrite-by-batch-id sink the
    stream docstrings name as the exactly-once closer. Readers get the
    whole history with `spark.read.parquet(out_path)` (hive partition
    discovery adds the batch_id column) and can partition-prune on it.

    Returns a `sink(pairs_df, batch_id)` callable for `near_dup_stream*`.
    """
    def sink(pairs, batch_id: int) -> None:
        pairs.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={int(batch_id)}")
    return sink


def near_dup_stream_simhash(docs, index_path: str, sink,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            max_hamming: int = 3,
                            checkpoint: str | None = None):
    """Streaming near-duplicate detection by SimHash Hamming distance —
    the third modality over `_indexed_stream_processor` (with MinHash
    `near_dup_stream` and `near_dup_stream_embedding`): each micro-batch
    is hashed, chunk-blocked against the persisted index
    (operators.dedup.simhash_index_write / simhash_dedup_incremental),
    and verified with bit_count on the XOR. Index probing, replay
    idempotency, and the one-streaming-lineage contract are shared; the
    completeness probe is the chunks/ table (this index has no separate
    meta — the chunk table is its single, last write).

    `sink(pairs_df, batch_id)` receives the (id_a, id_b, hamming) pairs
    involving the batch. Returns the DataStreamWriter (caller starts
    it)."""
    _process = _near_dup_simhash_processor(index_path, sink, id_col,
                                           text_col, max_hamming)
    w = docs.writeStream.foreachBatch(_process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def _near_dup_simhash_processor(index_path: str, sink, id_col: str,
                                text_col: str, max_hamming: int):
    """SimHash-modality body of `near_dup_stream_simhash` (see
    `_indexed_stream_processor`)."""
    from ..operators import dedup

    def bootstrap(batch_df):
        dedup.simhash_index_write(batch_df, index_path, id_col, text_col)
        return dedup.simhash_near_dups(batch_df, id_col, text_col,
                                       max_hamming)

    def incremental(spark, batch_df, append, batch_id):
        return dedup.simhash_dedup_incremental(
            spark, batch_df, index_path, id_col, text_col, max_hamming,
            append=append)

    return _indexed_stream_processor(index_path, sink, bootstrap,
                                     incremental, probe_subdir="chunks")


def near_dup_stream_substring(docs, index_path: str, sink,
                              id_col: str = "doc_id",
                              text_col: str = "text", window: int = 12,
                              checkpoint: str | None = None):
    """Streaming exact substring-span dedup — the fourth modality over
    `_indexed_stream_processor`: each micro-batch's duplicated token
    spans (vs everything ever indexed + within the batch) are emitted
    and the batch's window counts are appended as deltas
    (operators.dedup.substring_index_write /
    duplicate_spans_incremental). Replay correctness differs from the
    pair modalities: a replayed batch's counts are already in the
    sum-on-read index, so the incremental runs in `replay` mode (count
    the index alone) rather than collapsing duplicate output rows —
    adding the batch twice would flag unique windows as duplicates
    (wrong rows, not duplicated rows); the processor therefore skips
    its generic pair-dedup (replay_dedup_cols=None).

    `sink(spans_df, batch_id)` receives (id, span_start, span_end,
    n_windows) for the batch's docs. Returns the DataStreamWriter
    (caller starts it)."""
    _process = _near_dup_substring_processor(index_path, sink, id_col,
                                             text_col, window)
    w = docs.writeStream.foreachBatch(_process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def _near_dup_substring_processor(index_path: str, sink, id_col: str,
                                  text_col: str, window: int):
    """Substring-span-modality body of `near_dup_stream_substring` (see
    `_indexed_stream_processor`)."""
    from ..operators import dedup

    def bootstrap(batch_df):
        spans = dedup.duplicate_spans(batch_df, id_col, text_col, window)
        # Move the result onto the staging barrier and release the
        # operator's cache NOW — the processor clears staging after the
        # sink, so nothing leaks per bootstrap.
        out = dedup._staged_result(spans, index_path)
        spans.unpersist()
        dedup.substring_index_write(batch_df, index_path, id_col,
                                    text_col, window)
        return out

    def incremental(spark, batch_df, append, batch_id):
        if append:
            # delta_name = the batch id: a crash between the delta
            # write and the applied marker re-delivers the batch with
            # append still True — the overwrite-by-name delta REPLACES
            # itself and self-exclusion keeps the emitted spans right
            # (review finding)
            return dedup.duplicate_spans_incremental(
                spark, batch_df, index_path, id_col, text_col, window,
                append=True, delta_name=f"b{int(batch_id)}")
        # Marker-confirmed replay: the batch's counts are in the index
        # — under part=b<id> for an incremental batch, but under
        # part=base for a replayed BOOTSTRAP — so self-exclusion can't
        # cover both; the replay formula (index count alone) does.
        return dedup.duplicate_spans_incremental(
            spark, batch_df, index_path, id_col, text_col, window,
            append=False, replay=True)

    return _indexed_stream_processor(index_path, sink, bootstrap,
                                     incremental,
                                     probe_subdir="wins/part=base",
                                     replay_dedup_cols=None)


def near_dup_stream_semantic(emb, index_path: str, sink,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.4,
                             n_centroids: int = 16, n_iters: int = 2,
                             checkpoint: str | None = None,
                             n_assign: int | None = None):
    """Streaming SEMANTIC near-dup — the FIFTH modality over
    `_indexed_stream_processor`: the first batch trains the k-means
    centroids and writes the member index
    (similarity.semantic_index_write); every later micro-batch is
    assigned against those FROZEN centroids and joined (equi-join on
    centroid_id, partition-pruned member read) against everything ever
    indexed plus itself (similarity.semantic_dedup_incremental).
    Appends are overwrite-by-named-delta-partition, so the crash window
    between a batch's append and its applied marker redelivers
    idempotently — self-exclusion of the batch's own partition replaces
    the staging barrier entirely. Centroid drift under a shifting
    stream is the caller's retrain policy, same contract as the IVF
    index (`ivf_index_maybe_retrain`).

    `sink(pairs_df, batch_id)` receives the (id_a, id_b, cosine)
    same-cluster pairs involving the batch. Returns the
    DataStreamWriter (caller starts it).

    n_assign > 1 is TWO-SIDED since r13: the bootstrap writes a v2
    index (one member row per assigned cell, n_assign in meta), so
    both the bootstrap batch's within-batch pairs and every later
    batch's probe see each vector in all n_assign of its nearest cells
    — streaming dup sets match `semantic_dedup(n_assign=)` under the
    same frozen centroids (`semantic_dedup_incremental` docstring has
    the exact semantics; parity is test-pinned). The default (None,
    r13 review) bootstraps at width 1 but lets every incremental batch
    INHERIT the index width from meta — so a mid-stream
    `semantic_index_maybe_retrain(n_assign=)` width change is honored
    by the running stream instead of being pinned to the value the
    stream started with; an explicit int forces that width for both
    the bootstrap and every probe."""
    _process = _near_dup_semantic_processor(index_path, sink, id_col,
                                            vec_col, threshold,
                                            n_centroids, n_iters,
                                            n_assign=n_assign)
    w = emb.writeStream.foreachBatch(_process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def _near_dup_semantic_processor(index_path: str, sink, id_col: str,
                                 vec_col: str, threshold: float,
                                 n_centroids: int, n_iters: int,
                                 n_assign: int | None = None):
    """Semantic-modality body of `near_dup_stream_semantic` (see
    `_indexed_stream_processor`)."""
    from ..operators import similarity

    def bootstrap(batch_df):
        similarity.semantic_index_write(batch_df, index_path,
                                        n_centroids=n_centroids,
                                        n_iters=n_iters, id_col=id_col,
                                        vec_col=vec_col,
                                        n_assign=n_assign or 1)
        # reuse the PERSISTED assignment the index write just produced —
        # a semantic_pairs() call here would re-run the whole
        # broadcast-centroid assignment over the same rows (r8 review).
        # The v2 members hold one row per assigned cell, so this
        # self-join IS the widened (two-sided) pair probe; de-dup on
        # the pair key when widened (two shared cells emit twice).
        asg = (batch_df.sparkSession.read.parquet(index_path + "/members")
               .select("centroid_id", "id", "vec"))
        pairs = similarity._cell_pairs(asg, asg, False, threshold)
        if (n_assign or 1) > 1:
            pairs = pairs.dropDuplicates(["id_a", "id_b"])
        return pairs

    def incremental(spark, batch_df, append, batch_id):
        return similarity.semantic_dedup_incremental(
            spark, batch_df, index_path, threshold, id_col, vec_col,
            append=append, delta_name=f"b{int(batch_id)}",
            n_assign=n_assign)

    def heal(spark):
        # resolve once: heals a crashed LEGACY rename-aside swap (pre-gen
        # code); a generation-pointer index needs no heal — the bootstrap
        # probe resolves to the committed generation instead
        similarity._index_dir(spark, index_path,
                              ("members", "centroids", "meta"))

    return _indexed_stream_processor(index_path, sink, bootstrap,
                                     incremental, heal=heal)


def asof_enrich_stream(events, dim_path: str, sink,
                       on: str = "ts", by: str = "user_id",
                       value_cols: list | None = None,
                       tolerance_s=None,
                       checkpoint: str | None = None):
    """Streaming as-of enrichment: each micro-batch of events is joined
    to the LATEST-at-event-time row of a slowly-changing dimension table
    (`operators.intervals.asof_join` per batch — the batch operator IS
    the streaming kernel, the near-dup modality pattern).

    The dimension is RE-READ from `dim_path` every batch, so appends to
    it (new dimension versions) become visible at micro-batch
    boundaries — the standard freshness contract of a stream-static
    join, here upgraded to point-in-time semantics: an event carries the
    dimension row that was CURRENT at the event's own timestamp, never a
    later version (no lookahead leakage — the training-data analogue is
    feature-store point-in-time correctness).

    Determinism/replay: the join output is a pure function of (batch,
    dimension snapshot). A replayed batch re-enriched against a GROWN
    dimension can only change rows whose as-of version was appended
    after the first attempt — pair the stream with an
    overwrite-by-batch-id sink (pairs_parquet_sink pattern) for
    idempotent output, and version the dimension (append-only rows with
    their validity `on` timestamps) rather than updating in place.

    `sink(enriched_df, batch_id)` receives the enriched batch. Returns
    the DataStreamWriter (caller starts it)."""
    from ..operators.intervals import asof_join

    def _process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_path)
        out = asof_join(batch_df, dim, on=on, by=by,
                        value_cols=value_cols, tolerance_s=tolerance_s)
        sink(out, batch_id)

    w = events.writeStream.foreachBatch(_process)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w
