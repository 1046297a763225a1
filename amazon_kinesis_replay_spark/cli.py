"""OP-CLI — command-line surface mirroring the reference's 11 options
(RePlayer.java:63-112, defaults at :20-28).

Usage parity example (reference README.md:8-9):

    python -m amazon_kinesis_replay_spark.cli \
        -streamArn arn:aws:kinesis:us-east-1:123456789012:stream/replay \
        -bucketName my-bucket -objectPrefix taxi-trips/ -speedup 3600

Local/testing form (no AWS): --source file:///path/to/ndjson --sink-dir out/
"""

from __future__ import annotations

import argparse
import sys

from .config import ReplayConfig
from .functions.arn import validate_arn


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="amazon_kinesis_replay_spark",
        description="Replay NDJSON events from object storage into a "
                    "Kinesis-style stream at an accelerated event-time pace.")
    # reference option names kept verbatim (RePlayer.java:64-76)
    p.add_argument("-streamArn", default=None,
                   help="Kinesis stream ARN to replay into")
    p.add_argument("-bucketRegion", default="us-east-1",
                   help="accepted for reference command lines; no effect "
                        "(the s3a connector resolves the bucket region)")
    p.add_argument("-bucketName", default=None)
    p.add_argument("-objectPrefix", default="")
    p.add_argument("-speedup", type=float, default=6480.0)
    p.add_argument("-timestampAttributeName", default="dropoff_datetime")
    p.add_argument("-seek", default=None, help="ISO-8601 event-time lower bound")
    p.add_argument("-statisticsFrequency", type=int, default=20_000)
    p.add_argument("-readerBufferSize", type=int, default=100_000)
    p.add_argument("-kinesisProducerBuffer", type=int, default=5_000,
                   help="accepted for reference command lines; no effect "
                        "(--max-files-per-trigger bounds how far the source "
                        "runs ahead of the paced sink)")
    p.add_argument("-kinesisSenderThreads", type=int, default=4)
    # engine-native conveniences (no reference analogue)
    p.add_argument("--source", default=None,
                   help="direct source path/URI (overrides bucket+prefix)")
    p.add_argument("--sink-dir", default=None,
                   help="replay into NDJSON files instead of Kinesis")
    p.add_argument("--mode", choices=["driver", "partitioned"],
                   default="partitioned")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--checkpoint", default="/tmp/replay-ckpt")
    p.add_argument("--driver-mode-max-rows", type=int, default=1_000_000,
                   help="driver mode refuses micro-batches above this row "
                        "count (it collect()s for exact global pacing); "
                        "partitioned mode has no such bound")
    p.add_argument("--reorder-across-batches", action="store_true",
                   help="repair event-time disorder ACROSS micro-batches "
                        "with a bounded buffer of -readerBufferSize rows "
                        "(the reference's always-on 100k-event priority "
                        "queue); beyond-window stragglers emit late, "
                        "never drop. The held rows live durably in "
                        "<--checkpoint>/reorder-state, so a restart from "
                        "the checkpoint still emits them")
    p.add_argument("--codec", choices=["text", "sniff"], default="text",
                   help="'text' = extension-dispatched Hadoop codecs (fast "
                        "JVM path, .gz/.bz2); 'sniff' = content-sniffed "
                        "binary path (handles the reference's default "
                        ".json.lz4 frames and mislabeled objects)")
    return p


def config_from_args(args: argparse.Namespace) -> ReplayConfig:
    if args.source:
        source = args.source
    elif args.bucketName:
        source = f"s3a://{args.bucketName}/{args.objectPrefix}"
    else:
        raise SystemExit("need --source or -bucketName")
    if args.streamArn and not validate_arn(args.streamArn):
        raise SystemExit(f"invalid stream ARN: {args.streamArn}")
    if not args.streamArn and not args.sink_dir:
        raise SystemExit("need -streamArn or --sink-dir")
    return ReplayConfig(
        source_path=source,
        stream_arn=args.streamArn,
        speedup_factor=args.speedup,
        timestamp_attribute=args.timestampAttributeName,
        seek_to_epoch=args.seek,
        statistics_frequency_ms=args.statisticsFrequency,
        reader_buffer_size=args.readerBufferSize,
        sender_threads=args.kinesisSenderThreads,
        driver_mode_max_rows=args.driver_mode_max_rows,
        reorder_across_batches=args.reorder_across_batches,
        # inside the checkpoint: the gate's epochs are keyed by its batch
        # ids, so a fresh checkpoint must never meet an old state dir
        reorder_state_path=f"{args.checkpoint.rstrip('/')}/reorder-state",
    )


def main(argv: list[str]) -> int:
    args = build_parser().parse_args(argv)
    cfg = config_from_args(args)

    from pyspark.sql import functions as F

    from .session import build_spark
    from .sources import ndjson
    from .streaming.replay import ReplayEngine, run_replay_stream
    from .streaming.sinks import FileSink, KinesisSink

    spark = build_spark("kinesis-replay")
    read_stream = (ndjson.read_events_stream_sniffed if args.codec == "sniff"
                   else ndjson.read_events_stream)
    events = read_stream(
        spark, cfg, max_files_per_trigger=args.max_files_per_trigger)
    if cfg.seek_to_epoch:  # OP-FILTER-SEEK on the stream
        events = events.filter(
            F.col("ts") >= F.lit(cfg.seek_to_epoch).cast("timestamp"))

    if args.sink_dir:
        sink_dir = args.sink_dir
        sink_factory = lambda: FileSink(sink_dir)  # noqa: E731
    else:
        stream_arn = cfg.stream_arn
        sink_factory = lambda: KinesisSink(stream_arn)  # noqa: E731

    engine = ReplayEngine(
        cfg,
        sink_factory if args.mode == "partitioned" else sink_factory(),
        mode=args.mode)
    query = run_replay_stream(events, engine, args.checkpoint)
    query.awaitTermination()
    engine.finalize()         # drain the reorder gate's tail (no-op when off)
    s = engine.stats
    print(f"replayed {s.total_events} events in {s.batches} micro-batches; "
          f"sink requests={s.sink.requests} retried={s.sink.retried_records}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
