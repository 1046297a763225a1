"""Replay configuration mirroring the reference CLI surface (OP-CLI).

Defaults mirror /root/reference/src/main/java/com/amazonaws/samples/kinesis/
replay/RePlayer.java:20-28; option names follow RePlayer.java:64-76.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ReplayConfig:
    """All knobs of the reference replay job, as a config dataclass.

    Reference defaults: RePlayer.java:20-28 (speedup 6480, timestamp attr
    ``dropoff_datetime``, stats every 20 s, 100k reorder buffer, 4 sender
    threads); Kinesis constants KinesisProducer.java:25-28.
    """

    # -- source (OP-SRC-*) ---------------------------------------------------
    source_path: str = ""                      # S3 prefix / local dir of NDJSON
    object_suffix_to_skip: str = "README.md"   # JsonEventS3Iterator.java:71-73
    timestamp_attribute: str = "dropoff_datetime"  # RePlayer.java:25

    # -- replay semantics (OP-PROJ-INGEST / OP-RATE-*) -----------------------
    speedup_factor: float = 6480.0             # RePlayer.java:23
    seek_to_epoch: str | None = None           # ISO-8601; RePlayer.java:49-51
    #: Explicit ingestion anchor (ISO-8601, naive = UTC). The reference
    #: anchors on the first parsed event (JsonEvent.java:70-71); at 100 TB
    #: that means scanning the batch for its minimum before pacing can
    #: start. When the replay start is already known (it's the seek
    #: position), set it here and no anchor scan ever runs.
    anchor_ts: str | None = None

    # -- buffering / parallelism (OP-SORT-EVENTTIME / OP-FLOW-*) -------------
    reader_buffer_size: int = 100_000          # RePlayer.java:26
    sender_threads: int = 4                    # RePlayer.java:28
    #: Opt-in mirror of the reference's 100k-event reorder PRIORITY
    #: QUEUE (JsonEventBufferedReader.java:39), in both replay modes:
    #: hold the ts-largest `reader_buffer_size` rows of the merged stream
    #: across micro-batches so bounded disorder is repaired ACROSS
    #: batches, not just within one; disorder beyond the window emits
    #: late rather than dropping. Call `engine.finalize()` after a
    #: finite stream to drain the tail. Off by default: per-batch
    #: sorting (the Structured-Streaming-idiomatic shape) emits every
    #: batch eagerly and needs no drain step. Needs reorder_state_path.
    reorder_across_batches: bool = False
    #: Durable held-state directory of the reorder gate, REQUIRED when
    #: reorder_across_batches is set (the CLI puts it inside the
    #: checkpoint, `<checkpoint>/reorder-state`, since its epochs are
    #: keyed by the checkpoint's batch ids). The held tail (at least
    #: reader_buffer_size rows) lives as one parquet file under
    #: held/gen=<batch_id>, which the DRIVER reads and writes through
    #: the Hadoop FS API: the driver holds the window, at most
    #: reader_buffer_size rows plus the rows tied at the cutoff (and,
    #: while it merges, the reader_buffer_size + 1 newest batch rows in
    #: partitioned mode, the whole batch in driver mode).
    #: An epoch is applied once its commit marker file exists (written
    #: last, like fsutil.gen_commit), so a redelivered micro-batch either
    #: skips or recomputes from the previous committed epoch and cannot
    #: corrupt the buffer (emission to the sink stays at-least-once, like
    #: every replay sink path).
    reorder_state_path: str | None = None

    # -- sink (OP-SINK-*) -----------------------------------------------------
    stream_arn: str | None = None              # required in reference CLI
    max_records_per_request: int = 500         # KinesisProducer.java:25
    max_retries: int = 100                     # KinesisProducer.java:27
    max_backoff_ms: int = 2_000                # KinesisProducer.java:26
    backoff_base_ms: int = 100                 # KinesisProducer.java:28,147

    # -- monitoring (OP-AGG-*) -------------------------------------------------
    statistics_frequency_ms: int = 20_000      # RePlayer.java:24

    # -- spark-side tuning (no reference analogue; scale knobs) ---------------
    #: Driver-mode replay collect()s each micro-batch for exact global-order
    #: pacing — correct only at small scale. Batches above this row count are
    #: refused with guidance to use partitioned mode (which never collects)
    #: instead of OOMing the driver, and so is a reorder gate's held tail
    #: (finalize() paces it from the driver as one frame).
    driver_mode_max_rows: int = 1_000_000

    def __post_init__(self):
        # Both drive a loop: zero divides by zero (or paces to inf), and a
        # negative stats frequency never closes its window.
        for name in ("speedup_factor", "statistics_frequency_ms"):
            value = getattr(self, name)
            if not value > 0:
                raise ValueError(f"{name} must be > 0, got {value!r}")
        # silently ignoring the flag would let a user believe cross-batch
        # disorder is being repaired; an in-memory buffer would lose its
        # held rows on a restart from the checkpoint
        if self.reorder_across_batches and not self.reorder_state_path:
            raise ValueError(
                "reorder_across_batches needs reorder_state_path= (the "
                "durable held-state directory of the reorder gate); set "
                "it, or drop the flag")
