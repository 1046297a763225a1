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
  filter (+ pathGlobFilter include when the caller knows the data glob)
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


def _finish(lines: DataFrame, cfg: ReplayConfig,
            keep: tuple[str, ...] = ()) -> DataFrame:
    """The parse tail of every reader: parse the timestamp attribute of
    `value`, drop malformed rows. Returns (payload, ts) plus the `keep`
    columns."""
    parsed = lines.select(
        F.col("value").alias("payload"),
        jsonf.json_attr_ts(F.col("value"), cfg.timestamp_attribute).alias("ts"),
        *keep)
    return parsed.filter(F.col("ts").isNotNull())


def _sniffed(files: DataFrame, cfg: ReplayConfig) -> DataFrame:
    """binaryFile (path, content) rows, already suffix-pruned -> events:
    content-sniffed decode (`_decode_lines`), then the shared parse
    tail."""
    lines = files.select("path", "content").mapInPandas(
        _decode_lines, "value string, path string")
    return _finish(lines, cfg)


#: scheme://host-insensitive form for joining paths across sources
#: (input_file_name() says `file:///x`, binaryFile says `file:/x`)
def _norm_path(col):
    return F.regexp_replace(col, r"^([a-zA-Z][a-zA-Z0-9+.\-]*):/+", "$1:/")


def read_events(spark: SparkSession, cfg: ReplayConfig,
                path_glob_filter: str | None = None,
                sniff_fallback: bool | str = "auto",
                max_fallback_files: int = 100_000,
                auto_salvage_max_bytes: int = 16 << 30) -> DataFrame:
    """Batch scan of an NDJSON prefix -> (payload, ts).

    `sniff_fallback` mirrors the reference's catch-CompressorException-
    and-retry behavior (JsonEventS3Iterator.java:162-167) on the fast
    text path: files the extension-dispatched `spark.read.text` scan
    yields ZERO parsed rows for (mis-extensioned lz4/zstd/brotli, a
    corrupt-per-Hadoop `.gz` that is really something else, binary
    garbage read as text) are re-read through the content-sniffing
    binaryFile path and their rows unioned in. The text source is
    scanned EXACTLY ONCE (r11 verdict item 3): the parsed rows are
    localCheckpointed and BOTH the returned rows and the
    zero-contributing-file detection derive from the checkpointed
    blocks (a returned frame can never be unpersisted by the caller —
    the documented localCheckpoint pattern; ContextCleaner reclaims
    the blocks when the frame is unreferenced). Detection additionally
    costs a bodies-unread binaryFile LISTING; only suspect files have
    their bytes re-read. Suspects contributed no rows to the text leg,
    so the union cannot duplicate.

    The checkpoint trade (r12 review): materializing the parsed rows
    costs executor memory/local-disk proportional to the CORPUS (the
    old shape's second scan cost IO instead), and checkpoint blocks
    are non-replayable — an executor lost between this call and the
    caller's action fails with missing blocks rather than recomputing.
    So the DEFAULT is SIZE-GATED (`"auto"`, r13 — the r12 verdict's
    one 100 TB-unsafe default): a metadata-only listing aggregate
    first sums the input; at most `auto_salvage_max_bytes` listed
    bytes and `max_fallback_files` files, the checkpointed salvage
    plan runs (the interactive/moderate-corpus case it serves); over
    either bound the call warns and downgrades to the lazy single-leg
    text scan — no checkpoint, no eager corpus job, full lineage
    fault-tolerance, mis-extensioned files dropped as before r10.
    `sniff_fallback=True` forces salvage regardless of size;
    `sniff_fallback=False` is the lazy plan with no listing job at
    all. Corpus-scale ingest that NEEDS per-file salvage should use
    `read_events_sniffed` (content-sniffing over a lazy binaryFile
    scan) instead of raising the byte bound."""
    reader = spark.read.option("ignoreCorruptFiles", "true")
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    text = reader.text(cfg.source_path)
    if sniff_fallback is False:
        return _finish(_skip_objects(text, cfg, F.input_file_name()), cfg)

    listing_reader = spark.read.format("binaryFile")
    if path_glob_filter:
        listing_reader = listing_reader.option("pathGlobFilter",
                                               path_glob_filter)
    # selecting only path/length prunes the content column: the
    # binaryFile scan is a LISTING job, no bytes read
    listing = _skip_objects(
        listing_reader.load(cfg.source_path).select("path", "length"), cfg)
    if sniff_fallback == "auto":
        st = listing.agg(F.sum("length").alias("b"),
                         F.count("*").alias("n")).head()
        total_b, n_files = int(st["b"] or 0), int(st["n"])
        if total_b > auto_salvage_max_bytes or n_files > max_fallback_files:
            import warnings
            warnings.warn(
                f"read_events: input ({n_files} files, {total_b} bytes) "
                "exceeds the auto salvage bound "
                f"({max_fallback_files} files / {auto_salvage_max_bytes} "
                "bytes) — using the lazy single-leg text scan (no "
                "per-file sniff salvage). Pass sniff_fallback=True to "
                "force salvage, or use read_events_sniffed for "
                "corpus-scale mixed-codec ingest.")
            return _finish(_skip_objects(text, cfg, F.input_file_name()), cfg)

    # ONE text scan: parse with path, checkpoint, derive both legs
    parsed = _finish(
        _skip_objects(text.withColumn("path", F.input_file_name()), cfg),
        cfg, keep=("path",)).localCheckpoint()
    base = parsed.select("payload", "ts")
    # files that contributed at least one parsed row to the text leg
    ok_files = (parsed
                .select(_norm_path(F.col("path")).alias("norm")).distinct())
    suspects = (listing.select("path")
                .withColumn("norm", _norm_path(F.col("path")))
                .join(ok_files, "norm", "left_anti")
                .select("path")
                .limit(max_fallback_files + 1)
                .collect())
    if not suspects:
        return base
    if len(suspects) > max_fallback_files:
        raise ValueError(
            f"sniff_fallback found more than {max_fallback_files} files "
            "with no text-parseable rows — the corpus is not "
            "extension-dispatchable; ingest it with read_events_sniffed "
            "instead (or raise max_fallback_files)")
    salvage = _sniffed(spark.read.format("binaryFile")
                       .load([r["path"] for r in suspects]), cfg)
    return base.unionByName(salvage)


def _decode_lines(pdf_iter):
    """mapInPandas kernel: (path, content) file rows -> (value, path) line
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
                yield pd.DataFrame({"value": lines,
                                    "path": [path] * len(lines)})


def read_events_sniffed(spark: SparkSession, cfg: ReplayConfig,
                        path_glob_filter: str | None = None) -> DataFrame:
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
    reader = spark.read.format("binaryFile")
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return _sniffed(_skip_objects(reader.load(cfg.source_path), cfg), cfg)


def _decode_lines_numbered(pdf_iter):
    """`_decode_lines` twin that also emits each line's 0-based
    position within its object — the coordinate the sampled-seek
    replica's skip walk is defined over."""
    import pandas as pd
    drop_zip_finders()
    for pdf in _decode_lines(pdf_iter):
        pdf = pdf.copy()
        pdf["line_no"] = pdf.groupby("path").cumcount()
        yield pd.DataFrame({"value": pdf["value"], "path": pdf["path"],
                            "line_no": pdf["line_no"].astype("int64")})


def read_events_sampled_seek(spark: SparkSession, cfg: ReplayConfig,
                             seek_ts: str,
                             skip_num_lines: int = 10_000,
                             path_glob_filter: str | None = None
                             ) -> DataFrame:
    """Bug-for-bug OPT-IN replica of the reference's sampled seek
    (JsonEventS3Iterator.java:79-101): skip `skipNumLines` raw lines,
    parse ONE, repeat until the parsed timestamp reaches `seek_ts`,
    then replay from that parse position — lines between parse points
    are dropped forever, INCLUDING lines at or past the seek target
    (up to skipNumLines-1 of them). The default path (`filter_seek`'s
    exact ``ts >=`` predicate with parquet min/max skip-ahead) is
    strictly stronger; use this only to reproduce the reference's
    boundary-drop behavior record-for-record.

    Determinism contract: objects ordered by path, lines by position
    within each object — the same traversal order as the reference's
    listing loop. The skip geometry mirrors the Java on CLEAN corpora:
    a skip that runs past the end of an object no-ops (readLine ->
    null), so the next parse lands on the FIRST line of the next
    object.

    Malformed-line DIVERGENCE (documented, DEVIATIONS.md item 10): the
    reference's next() catches only IllegalArgumentException
    (JsonEventS3Iterator.java:186), but its parser's actual failure
    modes — Jackson errors rethrown as RuntimeException, a missing
    timestamp attribute raising NPE, Instant.parse raising
    DateTimeParseException (JsonEvent.java:84-92) — are NOT
    IllegalArgumentException, so on the Java a malformed parse position
    ABORTS the job (and in the rare caught case next() recurses,
    advancing ONE line, not skip+1). This replica instead treats a
    malformed parse position as never-a-stop and keeps walking the
    skip+1 geometry — record-for-record parity holds only on corpora
    where every parse position is well-formed (the java-twin test pins
    THIS replica's semantics, not the Java's abort). Driver-side work
    is metadata-scale: one (count) row per object plus one ts row per
    PARSE POSITION (~n_lines / skipNumLines)."""
    if skip_num_lines < 1:
        raise ValueError("skip_num_lines must be >= 1")
    reader = spark.read.format("binaryFile")
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    files = _skip_objects(reader.load(cfg.source_path), cfg)
    lines = files.select("path", "content").mapInPandas(
        _decode_lines_numbered, "value string, path string, line_no long")

    # per-object line counts: one row per file (metadata-scale)
    counts = {r["path"]: r["n"] for r in
              lines.groupBy("path").agg(F.count("*").alias("n")).collect()}
    order = sorted(counts)
    if not order:
        return _finish(lines, cfg)

    # the reference's parse-position walk (ts-independent geometry)
    positions: list[tuple[str, int]] = []
    fi, ln = 0, 0
    while fi < len(order):
        positions.append((order[fi], ln))
        nxt = ln + 1 + skip_num_lines
        if nxt < counts[order[fi]]:
            ln = nxt                  # skip stayed inside the object
        else:
            fi += 1                   # EOF mid-skip: next object, line 0
            ln = 0

    pos_df = spark.createDataFrame(positions, "path string, line_no long")
    parsed_pos = (lines.join(F.broadcast(pos_df), ["path", "line_no"])
                  .select("path", "line_no",
                          jsonf.json_attr_ts(F.col("value"),
                                             cfg.timestamp_attribute)
                          .alias("ts"))
                  .collect())
    ts_at = {(r["path"], r["line_no"]): r["ts"] for r in parsed_pos}
    import pandas as pd
    target = pd.Timestamp(seek_ts)
    if target.tzinfo is not None:
        target = target.tz_convert("UTC").tz_localize(None)
    stop = None
    for pos in positions:
        ts = ts_at.get(pos)
        if ts is not None and pd.Timestamp(ts) >= target:
            stop = pos
            break
    if stop is None:                  # iterator exhausted during seek
        return spark.createDataFrame([], "payload string, ts timestamp")
    sp, sl = stop
    kept = lines.filter((F.col("path") > sp)
                        | ((F.col("path") == sp)
                           & (F.col("line_no") >= sl)))
    return _finish(kept, cfg)


def read_events_stream_sniffed(spark: SparkSession, cfg: ReplayConfig,
                               max_files_per_trigger: int = 1,
                               path_glob_filter: str | None = None) -> DataFrame:
    """Streaming twin of `read_events_sniffed`: binaryFile file-stream
    source (maxFilesPerTrigger backpressure, same as the text path) with
    content-sniffed decompression — use for `.json.lz4` replay input."""
    # file-stream sources require an explicit schema; binaryFile's is fixed
    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("maxFilesPerTrigger", str(max_files_per_trigger)))
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return _sniffed(_skip_objects(reader.load(cfg.source_path), cfg), cfg)


def read_events_stream(spark: SparkSession, cfg: ReplayConfig,
                       max_files_per_trigger: int = 1,
                       path_glob_filter: str | None = None) -> DataFrame:
    """Streaming scan of an NDJSON prefix.

    maxFilesPerTrigger is the micro-batch analogue of the reference's
    bounded reader buffer (OP-FLOW-BACKPRESSURE,
    JsonEventBufferedReader.java:38-46): it caps how far the source can run
    ahead of the paced sink.
    """
    reader = (spark.readStream
              .option("ignoreCorruptFiles", "true")
              .option("maxFilesPerTrigger", str(max_files_per_trigger)))
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return _finish(_skip_objects(reader.text(cfg.source_path), cfg,
                                 F.input_file_name()), cfg)
