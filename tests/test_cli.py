"""CLI surface (OP-CLI): arg parity with the reference + an end-to-end
subprocess replay into a file sink."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from amazon_kinesis_replay_spark.cli import build_parser, config_from_args

ROOT = Path(__file__).resolve().parents[1]


def test_reference_defaults_parity():
    """Defaults mirror RePlayer.java:20-28."""
    args = build_parser().parse_args(["--source", "/x", "--sink-dir", "/y"])
    cfg = config_from_args(args)
    assert cfg.speedup_factor == 6480.0
    assert cfg.timestamp_attribute == "dropoff_datetime"
    assert cfg.statistics_frequency_ms == 20_000
    assert cfg.reader_buffer_size == 100_000
    assert args.kinesisProducerBuffer == 5_000
    assert cfg.sender_threads == 4
    assert cfg.reorder_across_batches is False   # opt-in (r8)


def test_reorder_flag_maps_to_config():
    """The gate's state lives inside the checkpoint, so its epochs can
    never be paired with another stream's batch ids; there is no flag
    to point it elsewhere."""
    args = build_parser().parse_args(
        ["--source", "/x", "--sink-dir", "/y", "--reorder-across-batches",
         "-readerBufferSize", "5000", "--checkpoint", "/ck/run1/"])
    cfg = config_from_args(args)
    assert cfg.reorder_across_batches is True
    assert cfg.reader_buffer_size == 5000
    assert cfg.reorder_state_path == "/ck/run1/reorder-state"
    with pytest.raises(SystemExit):
        build_parser().parse_args(
            ["--source", "/x", "--reorder-state-path", "/elsewhere"])


def test_arn_validation_rejects_garbage():
    args = build_parser().parse_args(
        ["--source", "/x", "-streamArn", "not-an-arn"])
    with pytest.raises(SystemExit):
        config_from_args(args)
    # a non-positive pace or stats window is refused before any replay
    # starts, naming the field
    for flag, field in (("-speedup", "speedup_factor"),
                        ("-statisticsFrequency", "statistics_frequency_ms")):
        for bad in ("0", "-1"):
            args = build_parser().parse_args(
                ["--source", "/x", "--sink-dir", "/y", flag, bad])
            with pytest.raises(ValueError, match=field):
                config_from_args(args)


def test_missing_source_and_sink_rejected():
    with pytest.raises(SystemExit):
        config_from_args(build_parser().parse_args([]))
    with pytest.raises(SystemExit):  # source but neither sink
        config_from_args(build_parser().parse_args(["--source", "/x"]))


def test_cli_end_to_end_file_sink(tmp_path):
    """Drive the real module entry point in a subprocess: NDJSON in,
    paced replay, NDJSON batches out."""
    src = tmp_path / "src"
    src.mkdir()
    base = 1704067200  # 2024-01-01T00:00:00Z
    with open(src / "events.json", "w") as fh:
        for i in range(120):
            fh.write(json.dumps({
                "event_id": i,
                "dropoff_datetime": f"2024-01-01T00:{i//60:02d}:{i%60:02d}"})
                + "\n")
    out = tmp_path / "out"
    res = subprocess.run(
        [sys.executable, "-m", "amazon_kinesis_replay_spark.cli",
         "--source", str(src), "--sink-dir", str(out),
         "--mode", "driver", "-speedup", "100000",
         "--checkpoint", str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert res.returncode == 0, res.stderr[-2000:]
    assert "replayed 120 events" in res.stdout
    sent = []
    for f in out.glob("*.ndjson"):
        with open(f) as fh:
            sent.extend(json.loads(line) for line in fh)
    assert len(sent) == 120


def test_cli_end_to_end_lz4_sniffed_partitioned(tmp_path):
    """The reference's default data shape end-to-end: .json.lz4 frame input
    through --codec sniff, partitioned mode, file sink — and the summary
    line reflects executor-side sends (accumulator-backed stats)."""
    from amazon_kinesis_replay_spark.sources import lz4frame
    src = tmp_path / "src"
    src.mkdir()
    lines = "".join(
        json.dumps({"event_id": i,
                    "dropoff_datetime": f"2024-01-01T00:{i//60:02d}:{i%60:02d}"})
        + "\n" for i in range(120))
    (src / "events.json.lz4").write_bytes(lz4frame.frame_compress(lines.encode()))
    out = tmp_path / "out"
    res = subprocess.run(
        [sys.executable, "-m", "amazon_kinesis_replay_spark.cli",
         "--source", str(src), "--sink-dir", str(out),
         "--mode", "partitioned", "--codec", "sniff", "-speedup", "100000",
         "-kinesisSenderThreads", "2",
         "--checkpoint", str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert res.returncode == 0, res.stderr[-2000:]
    assert "replayed 120 events" in res.stdout
    assert "requests=0" not in res.stdout   # stats flow back from executors
    sent = []
    for f in out.glob("*.ndjson"):
        with open(f) as fh:
            sent.extend(json.loads(line) for line in fh)
    assert len(sent) == 120
