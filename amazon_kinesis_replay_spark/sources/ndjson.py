"""NDJSON event source (OP-SRC-* / OP-PARSE-*).

Reference behavior being re-expressed (SURVEY §2.1):
- prefix listing scan          JsonEventS3Iterator.java:61-62 -> file-source listing
- per-object line reads        JsonEventS3Iterator.java:118   -> spark.read.text
- transparent decompression    JsonEventS3Iterator.java:162-167 -> Hadoop codecs
  by extension (.gz/.bz2/...) on the fast text path; `read_events_sniffed`
  adds the reference's content-sniffing dispatch (incl. the lz4-CLI frame
  format Hadoop lacks, and the fall-back-to-plain-text behavior) over a
  binaryFile scan + Arrow-batched per-file decode
- suffix file pruning          JsonEventS3Iterator.java:139-143 -> input_file_name
  filter
- corrupt-object skip          JsonEventS3Iterator.java:151-160 -> ignoreCorruptFiles
  (the reference's time-anchor reset side effect is NOT reproduced; SURVEY §1.3)
- malformed-row drop           JsonEventS3Iterator.java:187-193 -> null-drop on
  try_to_timestamp of the configured attribute

Works against any Hadoop-visible path (file://, s3a://). One row per event:
(payload string, ts timestamp), exactly the reference's JsonEvent shape
minus ingestion time (derived later, OP-PROJ-INGEST).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ReplayConfig
from ..functions import jsonf
from ..session import drop_zip_finders


def _skip_objects(rows: DataFrame, cfg: ReplayConfig, path=None) -> DataFrame:
    """Suffix file pruning, applied once per reader: drop the rows of
    objects whose `path` (default the `path` column; a text scan passes
    `input_file_name()`) ends with `cfg.object_suffix_to_skip`. The
    binaryFile readers prune their (path, content) rows before the
    decode: Spark cannot push a filter on the decoded lines below
    `mapInPandas`, so pruning after it would decompress every skipped
    object first."""
    if not cfg.object_suffix_to_skip:
        return rows
    if path is None:
        path = F.col("path")
    return rows.filter(~path.endswith(cfg.object_suffix_to_skip))


def _finish(lines: DataFrame, cfg: ReplayConfig) -> DataFrame:
    """The parse tail of every reader: parse the timestamp attribute of
    `value`, drop malformed rows. Returns (payload, ts)."""
    parsed = lines.select(
        F.col("value").alias("payload"),
        jsonf.json_attr_ts(F.col("value"), cfg.timestamp_attribute)
        .alias("ts"))
    return parsed.filter(F.col("ts").isNotNull())


def _sniffed(files: DataFrame, cfg: ReplayConfig) -> DataFrame:
    """binaryFile (path, content) rows, already suffix-pruned -> events:
    content-sniffed decode (`_decode_lines`), then the shared parse
    tail."""
    lines = files.select("path", "content").mapInPandas(
        _decode_lines, "value string")
    return _finish(lines, cfg)


def read_events(spark: SparkSession, cfg: ReplayConfig) -> DataFrame:
    """Batch scan of an NDJSON prefix -> (payload, ts): the lazy
    extension-dispatched `spark.read.text` scan. Files Hadoop cannot
    decode (corrupt, or mis-extensioned lz4/zstd/brotli) are skipped by
    `ignoreCorruptFiles` or contribute no parseable rows;
    `read_events_sniffed` is the content-sniffing path that reads them."""
    text = (spark.read.option("ignoreCorruptFiles", "true")
            .text(cfg.source_path))
    return _finish(_skip_objects(text, cfg, F.input_file_name()), cfg)


def _decode_lines(pdf_iter):
    """mapInPandas kernel: (path, content) file rows -> (value) line
    rows, decompressing by CONTENT sniffing (gzip/bz2/lz4-frame/xz/zstd,
    else plain text; `.br` paths additionally try brotli, which has no
    sniffable magic). Undecodable objects are skipped — the ignoreCorruptFiles
    analogue for the binary path."""
    import lzma
    import zlib

    import pandas as pd

    from ..functions.brotli import BrotliError
    from ..functions.zstd import ZstdError
    from .lz4frame import LZ4FrameError, decompress_auto

    drop_zip_finders()

    # Everything the stdlib decompressors raise on corrupt input: gzip ->
    # BadGzipFile (OSError) or EOFError (truncated) or zlib.error; bz2 ->
    # OSError/ValueError/EOFError; xz -> lzma.LZMAError (plain Exception
    # subclass, NOT OSError). Missing any of these would fail the whole
    # ingest job on one corrupt object instead of skipping it.
    corrupt = (LZ4FrameError, ZstdError, BrotliError, OSError, EOFError,
               ValueError, lzma.LZMAError, zlib.error)

    for pdf in pdf_iter:
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                text = decompress_auto(bytes(content), path=str(path))
                # errors="replace", NOT strict (r7 review): one bad byte
                # must not silently drop the whole object — the text path
                # (spark.read.text) and the reference's
                # InputStreamReader both substitute U+FFFD,
                # and the malformed-JSON row is then dropped PER ROW by
                # the parse tail, matching every other ingest path.
                lines = text.decode("utf-8", "replace").splitlines()
            except corrupt:
                continue                # corrupt object: skip whole file
            if lines:
                yield pd.DataFrame({"value": lines})


def read_events_sniffed(spark: SparkSession, cfg: ReplayConfig) -> DataFrame:
    """Batch NDJSON scan with content-sniffed decompression — the path for
    the reference's DEFAULT `.json.lz4` data (lz4-CLI frames, which the
    Hadoop lz4 block codec cannot read) and for mislabeled/extensionless
    objects (JsonEventS3Iterator.java:162-167 falls back to plain text).

    Plan shape at scale: binaryFile scan (one row per object, objects
    partitioned across executors) -> Arrow-batched mapInPandas decode ->
    the same parse tail as the text path. Whole-object rows mean the
    per-task unit is one compressed object — the same granularity as the
    reference's per-object iterator; Python-side lz4 costs CPU, so for
    steady-state 100 TB ingest transcode once via lz4frame.frame_compress
    or a native codec, and keep this as the compatibility path.
    """
    files = spark.read.format("binaryFile").load(cfg.source_path)
    return _sniffed(_skip_objects(files, cfg), cfg)


def read_events_stream_sniffed(spark: SparkSession, cfg: ReplayConfig,
                               max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming twin of `read_events_sniffed`: binaryFile file-stream
    source (maxFilesPerTrigger backpressure, same as the text path) with
    content-sniffed decompression — use for `.json.lz4` replay input."""
    # file-stream sources require an explicit schema; binaryFile's is fixed
    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("maxFilesPerTrigger", str(max_files_per_trigger)))
    return _sniffed(_skip_objects(reader.load(cfg.source_path), cfg), cfg)


def read_events_stream(spark: SparkSession, cfg: ReplayConfig,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming scan of an NDJSON prefix.

    maxFilesPerTrigger is the micro-batch analogue of the reference's
    bounded reader buffer (OP-FLOW-BACKPRESSURE,
    JsonEventBufferedReader.java:38-46): it caps how far the source can run
    ahead of the paced sink.
    """
    reader = (spark.readStream
              .option("ignoreCorruptFiles", "true")
              .option("maxFilesPerTrigger", str(max_files_per_trigger)))
    return _finish(_skip_objects(reader.text(cfg.source_path), cfg,
                                 F.input_file_name()), cfg)
