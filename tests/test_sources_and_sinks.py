"""NDJSON source behaviors (codec autodetect, suffix skip, malformed drop)
and the batched/retried sink loop."""

import gzip
import json

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.config import ReplayConfig
from amazon_kinesis_replay_spark.sources import ndjson
from amazon_kinesis_replay_spark.streaming import sinks
from amazon_kinesis_replay_spark.tables import load


@pytest.fixture(scope="module")
def fixture_dir(spark, sf_dir, tmp_path_factory):
    """Reference-shaped NDJSON corpus (FIXTURES.md §2): plain + gz files,
    a README decoy, ~1% malformed timestamp lines."""
    root = tmp_path_factory.mktemp("ndjson")
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts", "value")
            .orderBy("ts").collect())
    half = len(rows) // 2

    def line(r, malform=False):
        ts = "not-a-timestamp" if malform else r["ts"].isoformat()
        return json.dumps({"event_id": r["event_id"],
                           "dropoff_datetime": ts,
                           "value": r["value"]})

    n_malformed = 0
    with open(root / "part-000.json", "w") as fh:
        for i, r in enumerate(rows[:half]):
            malform = i % 100 == 7
            n_malformed += malform
            fh.write(line(r, malform) + "\n")
    with gzip.open(root / "part-001.json.gz", "wt") as fh:
        for r in rows[half:]:
            fh.write(line(r) + "\n")
    (root / "README.md").write_text("decoy: not data\n")
    return str(root), len(rows), n_malformed


def test_read_events_full_pipeline(spark, fixture_dir):
    path, n_total, n_malformed = fixture_dir
    cfg = ReplayConfig(source_path=path)  # default attr dropoff_datetime,
    out = ndjson.read_events(spark, cfg)  # default suffix skip README.md
    got = out.count()
    assert got == n_total - n_malformed  # decoy + malformed rows dropped
    assert out.schema["ts"].dataType.typeName().startswith("timestamp")
    # both files read (gz decompressed): event span covers both halves
    assert out.agg(F.min("ts"), F.max("ts")).collect()[0][1] is not None


def test_suffix_skip_is_exact(spark, fixture_dir):
    path, n_total, n_malformed = fixture_dir
    cfg = ReplayConfig(source_path=path, object_suffix_to_skip="")
    out = ndjson.read_events(spark, cfg)
    # README decoy line fails timestamp parse anyway -> same count, but the
    # suffix filter must prune the FILE, not rely on parse failure:
    pruned = ndjson.read_events(
        spark, ReplayConfig(source_path=path))
    assert out.count() == pruned.count() == n_total - n_malformed


def test_bz2_and_corrupt_files(spark, tmp_path):
    """OP-SRC-DECOMP (.bz2) + OP-SRC-SKIPBAD (corrupt archive skipped
    without failing the scan)."""
    import bz2 as bz2lib
    root = tmp_path / "mixed"
    root.mkdir()
    with bz2lib.open(root / "good.json.bz2", "wt") as fh:
        for i in range(20):
            fh.write(json.dumps({"dropoff_datetime":
                                 f"2024-01-01T00:00:{i:02d}"}) + "\n")
    # truncated gz: a valid header then garbage -> decompressor error
    (root / "bad.json.gz").write_bytes(b"\x1f\x8b\x08\x00garbage-not-gz")
    cfg = ReplayConfig(source_path=str(root))
    out = ndjson.read_events(spark, cfg)
    assert out.count() == 20


def test_sniffed_path_skips_truncated_gzip_and_corrupt_xz(spark, tmp_path):
    """Regression (r2 ADVICE): the content-sniffed decoder's corrupt-skip
    must also catch EOFError (truncated gzip) and lzma.LZMAError (corrupt
    xz — an Exception subclass, NOT OSError); either one used to fail the
    whole ingest job instead of skipping the object."""
    import gzip as gz
    import lzma
    root = tmp_path / "sniffed"
    root.mkdir()
    good = "".join(json.dumps({"dropoff_datetime":
                               f"2024-01-01T00:00:{i:02d}"}) + "\n"
                   for i in range(15))
    (root / "good.json.gz").write_bytes(gz.compress(good.encode()))
    # truncated gzip: valid header+prefix, cut mid-stream -> EOFError
    full = gz.compress((good * 50).encode())
    (root / "truncated.json.gz").write_bytes(full[:len(full) // 2])
    # corrupt xz: valid magic, scrambled payload -> lzma.LZMAError
    xz = bytearray(lzma.compress((good * 20).encode()))
    xz[20:40] = b"\xff" * 20
    (root / "corrupt.json.xz").write_bytes(bytes(xz))
    cfg = ReplayConfig(source_path=str(root))
    out = ndjson.read_events_sniffed(spark, cfg)
    assert out.count() == 15                  # only the good object survives


def test_sniffed_suffix_skip_prunes_objects_before_the_decode(spark,
                                                              tmp_path):
    """The suffix filter runs on the binaryFile rows, beneath the
    mapInPandas decode: Spark cannot push a filter on the decoded lines
    through it, so a skipped object would be decompressed first."""
    cfg = ReplayConfig(source_path=str(tmp_path),
                       object_suffix_to_skip=".tmp")
    df = ndjson.read_events_sniffed(spark, cfg)
    plan = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    decode = next(i for i, ln in enumerate(plan) if "MapInPandas" in ln)
    skip = [i for i, ln in enumerate(plan)
            if "Filter" in ln and "EndsWith" in ln]
    assert len(skip) == 1 and skip[0] > decode, "\n".join(plan)


def test_send_with_retry_failed_subset():
    cfg = ReplayConfig(backoff_base_ms=1, max_backoff_ms=2)
    # request 0 fails records 1 and 3; request 1 (the retry of those 2)
    # fails record 0; request 2 succeeds.
    sink = sinks.InMemorySink(fail_plan={0: [1, 3], 1: [0]})
    records = [{"payload": f"p{i}"} for i in range(5)]
    naps = []
    stats = sinks.send_with_retry(sink, records, cfg, sleep=naps.append)
    assert stats.requests == 3
    assert stats.records_sent == 5
    assert stats.retried_records == 3  # 2 retried once + 1 retried twice
    sent = [r["payload"] for b in sink.batches for r in b]
    assert sorted(sent) == [f"p{i}" for i in range(5)]
    # exponential backoff: min(2, 2^a*1) ms
    assert naps == [0.002, 0.002]


def test_send_with_retry_exhaustion():
    cfg = ReplayConfig(max_retries=3, backoff_base_ms=1, max_backoff_ms=1)
    sink = sinks.InMemorySink(fail_plan={i: [0] for i in range(10)})
    with pytest.raises(sinks.SinkError):
        sinks.send_with_retry(sink, [{"payload": "x"}], cfg, sleep=lambda s: None)


# ---------------------------------------------------------------------------
# LZ4 frame codec + content-sniffed binary source
# ---------------------------------------------------------------------------


def test_lz4_block_roundtrip_properties():
    """Block codec round-trips across literal-only, repetitive (overlapping
    match copies, incl. offset<matchlen RLE), and pseudo-random content."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_kinesis_replay_spark.sources import lz4frame

    cases = [
        b"",
        b"short",
        b"a" * 1000,                       # RLE: offset 1 overlap copy
        b"abcabcabcabc" * 50,              # offset 3 overlap copy
        bytes(range(256)) * 16,            # incompressible-ish
        (b"the quick brown fox " * 40)[:777],
    ]
    for data in cases:
        assert lz4frame.block_decompress(lz4frame.block_compress(data)) == data

    @given(st.binary(max_size=4096))
    @settings(max_examples=200, deadline=None)
    def roundtrip(data):
        assert lz4frame.block_decompress(lz4frame.block_compress(data)) == data

    roundtrip()


def test_lz4_frame_roundtrip_and_multiblock():
    from amazon_kinesis_replay_spark.sources import lz4frame

    data = (b'{"k": %d}\n' % 12345) * 10_000
    for stored in (False, True):
        framed = lz4frame.frame_compress(data, block_size=16_384,
                                         store_uncompressed=stored)
        assert framed[:4] == b"\x04\x22\x4d\x18"
        assert lz4frame.frame_decompress(framed) == data
    # concatenated frames decode as one stream (lz4-CLI cat behavior)
    two = lz4frame.frame_compress(b"hello ") + lz4frame.frame_compress(b"world")
    assert lz4frame.frame_decompress(two) == b"hello world"


def test_sniff_codec_dispatch():
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma

    from amazon_kinesis_replay_spark.sources import lz4frame

    raw = b'{"a": 1}\n'
    assert lz4frame.sniff_codec(_gzip.compress(raw)[:8]) == "gzip"
    assert lz4frame.sniff_codec(_bz2.compress(raw)[:8]) == "bz2"
    assert lz4frame.sniff_codec(_lzma.compress(raw)[:8]) == "xz"
    assert lz4frame.sniff_codec(lz4frame.frame_compress(raw)[:8]) == "lz4"
    assert lz4frame.sniff_codec(b"\x28\xb5\x2f\xfd....") == "zstd"
    assert lz4frame.sniff_codec(raw[:8]) == "plain"
    blobs = [raw, _gzip.compress(raw), _bz2.compress(raw),
             _lzma.compress(raw), lz4frame.frame_compress(raw)]
    try:
        compress, _a, _d = _libzstd()
        blobs.append(compress(raw, 3))
    except Exception:
        pass
    for blob in blobs:
        assert lz4frame.decompress_auto(blob) == raw


def test_read_events_sniffed_lz4_fixture(spark, sf_dir, tmp_path):
    """The reference's default data shape: .json.lz4 frame files round-trip
    through the binary sniffing source; mislabeled plain text falls back;
    corrupt objects are skipped; gz still works — all in one directory."""
    from amazon_kinesis_replay_spark.sources import lz4frame

    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(300).collect())

    def line(r):
        return json.dumps({"event_id": r["event_id"],
                           "dropoff_datetime": r["ts"].isoformat()})

    third = len(rows) // 3
    ndj = [("\n".join(line(r) for r in rows[:third]) + "\n"),
           ("\n".join(line(r) for r in rows[third:2 * third]) + "\n"),
           ("\n".join(line(r) for r in rows[2 * third:]) + "\n")]
    # lz4-CLI-framed, gzip, and PLAIN TEXT mislabeled as .lz4 (sniffing
    # must fall back rather than trust the extension)
    (tmp_path / "a.json.lz4").write_bytes(
        lz4frame.frame_compress(ndj[0].encode()))
    (tmp_path / "b.json.gz").write_bytes(gzip.compress(ndj[1].encode()))
    (tmp_path / "c.json.lz4").write_bytes(ndj[2].encode())
    # corrupt lz4 frame: valid magic, truncated body -> whole file skipped
    (tmp_path / "bad.json.lz4").write_bytes(
        lz4frame.frame_compress(b"x" * 500)[:20])
    (tmp_path / "README.md").write_text("decoy\n")

    cfg = ReplayConfig(source_path=str(tmp_path))
    out = ndjson.read_events_sniffed(spark, cfg)
    got = out.select("payload", "ts").collect()
    assert len(got) == len(rows)
    got_ids = sorted(json.loads(r["payload"])["event_id"] for r in got)
    assert got_ids == sorted(r["event_id"] for r in rows)


# ---------------------------------------------------------------------------
# Real-Kinesis endpoint injection (gated: needs boto3 + AWS_ENDPOINT_URL)
# ---------------------------------------------------------------------------


def test_kinesis_sink_endpoint_injection():
    """Exercises the real boto3 PutRecords request shape against a
    LocalStack-style endpoint. Skipped unless boto3 is installed AND
    AWS_ENDPOINT_URL points at a Kinesis-compatible stack with a
    'replay-test' stream."""
    import os
    pytest.importorskip("boto3")
    endpoint = os.environ.get("AWS_ENDPOINT_URL")
    if not endpoint:
        pytest.skip("AWS_ENDPOINT_URL not set")
    arn = "arn:aws:kinesis:us-east-1:000000000000:stream/replay-test"
    sink = sinks.KinesisSink(arn)
    failed = sink.put_records(
        [{"payload": '{"event_id": 1}'}, {"payload": '{"event_id": 2}'}])
    assert failed == []


def _drain_stream(client, stream_name: str) -> list[bytes]:
    """All record payloads currently in a stream, across every shard."""
    desc = client.describe_stream(StreamName=stream_name)
    data = []
    for shard in desc["StreamDescription"]["Shards"]:
        it = client.get_shard_iterator(
            StreamName=stream_name, ShardId=shard["ShardId"],
            ShardIteratorType="TRIM_HORIZON")["ShardIterator"]
        for _ in range(20):
            resp = client.get_records(ShardIterator=it, Limit=10000)
            data.extend(r["Data"] for r in resp["Records"])
            it = resp["NextShardIterator"]
            if resp.get("MillisBehindLatest", 0) == 0 and not resp["Records"]:
                break
    return data


def test_kinesis_sink_e2e_emulated():
    """End-to-end against an EMULATED Kinesis (moto): create a stream,
    drive KinesisSink through the reference's chunk+retry loop
    (KinesisProducer.java:112,139-169), and read every record back —
    exercising the real boto3 PutRecords wire shape, the <=500-record
    request limit, and payload integrity. Cleanly skipped when boto3 or
    moto is absent."""
    import json as js
    import os

    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")

    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    with moto.mock_aws():
        client = boto3.client("kinesis", region_name="us-east-1")
        client.create_stream(StreamName="replay-e2e", ShardCount=2)
        arn = client.describe_stream(StreamName="replay-e2e")[
            "StreamDescription"]["StreamARN"]

        cfg = ReplayConfig()
        sink = sinks.KinesisSink(arn)
        records = [{"payload": js.dumps({"event_id": i})} for i in range(1203)]
        stats = sinks.SinkStats()
        n_requests = 0
        size = cfg.max_records_per_request
        for i in range(0, len(records), size):
            chunk = records[i:i + size]
            assert len(chunk) <= 500                    # service limit
            sinks.send_with_retry(sink, chunk, cfg, stats)
            n_requests += 1
        assert n_requests == 3                          # 500+500+203
        assert stats.records_sent == 1203
        assert stats.retried_records == 0               # clean run

        payloads = _drain_stream(client, "replay-e2e")
        assert len(payloads) == 1203
        got_ids = sorted(js.loads(p)["event_id"] for p in payloads)
        assert got_ids == list(range(1203))             # integrity, no loss


def test_kinesis_sink_e2e_driver_replay():
    """The driver-mode ReplayEngine shipping a real DataFrame batch into
    emulated Kinesis: the full sort -> pace -> batch -> PutRecords path
    with the real client. Skipped without boto3/moto."""
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    import json as js
    import os

    from amazon_kinesis_replay_spark.streaming.replay import ReplayEngine
    from conftest import engine_session
    from amazon_kinesis_replay_spark.tables import load

    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    spark = engine_session()
    events = (load(spark, "/root/testdata/sf0.001", "events")
              .selectExpr("props AS payload", "ts").limit(700))
    n = events.count()
    with moto.mock_aws():
        client = boto3.client("kinesis", region_name="us-east-1")
        client.create_stream(StreamName="replay-drv", ShardCount=1)
        arn = client.describe_stream(StreamName="replay-drv")[
            "StreamDescription"]["StreamARN"]
        engine = ReplayEngine(ReplayConfig(speedup_factor=1e12),
                              sinks.KinesisSink(arn), mode="driver")
        engine.process_batch(events, 0)
        assert engine.stats.sink.records_sent == n
        payloads = _drain_stream(client, "replay-drv")
        assert len(payloads) == n


def test_lz4_block_linked_frames_decode():
    """Block-LINKED frames (lz4 CLI -BD / python-lz4 defaults) carry
    matches across block boundaries — spec-valid input that must decode,
    not be classified corrupt (r7 review). Verified against the real lz4
    CLI when present, plus a hand-crafted frame whose second block's
    match reaches into the first."""
    import shutil
    import struct as st
    import subprocess

    from amazon_kinesis_replay_spark.sources.lz4frame import (
        frame_decompress)

    if shutil.which("lz4"):
        data = (b"the quick brown fox jumps over the lazy dog 0123456789\n"
                * 3000)
        p = subprocess.run(["lz4", "-c", "-BD", "-B4"], input=data,
                           capture_output=True, check=True)
        assert frame_decompress(p.stdout) == data

    # hand-crafted: block 1 stored, block 2's match offsets into block 1
    b1 = b"HelloWorldABCDEFGH" * 8                   # 144 bytes, stored
    seq = bytes([0x0F]) + st.pack("<H", len(b1)) + bytes([1])  # 20-byte match
    tail = bytes([0x50]) + b"tail!"                  # final literals
    b2 = seq + tail
    raw = (b"\x04\x22\x4d\x18"                       # magic
           + bytes([(0b01 << 6), 0x40, 0]))          # FLG linked, BD, hdr-ck
    raw += st.pack("<I", len(b1) | 0x80000000) + b1  # stored block
    raw += st.pack("<I", len(b2)) + b2               # compressed block
    raw += st.pack("<I", 0)                          # EndMark
    assert frame_decompress(raw) == b1 + b1[:20] + b"tail!"


def test_lz4_dictionary_frame_raises_loudly():
    """A dictionary frame is VALID lz4 we cannot decode without the
    dictionary — it must raise NotImplementedError (NOT LZ4FrameError,
    which the ingest path classifies as corrupt and silently skips)."""
    import struct as st

    import pytest

    from amazon_kinesis_replay_spark.sources.lz4frame import (
        frame_decompress)
    raw = (b"\x04\x22\x4d\x18"
           + bytes([(0b01 << 6) | 0x20 | 0x01, 0x40, 0])  # dict-id bit
           + st.pack("<I", 1234)                          # dict id
           + st.pack("<I", 0))
    with pytest.raises(NotImplementedError, match="dictionary"):
        frame_decompress(raw)


def test_sniffed_ingest_replaces_bad_utf8_instead_of_dropping(spark,
                                                             tmp_path):
    """One invalid UTF-8 byte must not silently drop a whole object: the
    binary sniffed path substitutes U+FFFD like the text path and the
    reference's InputStreamReader, and the malformed-JSON ROW is then
    dropped per row, keeping every other record in the object."""
    import json as js
    src = tmp_path / "utf8"
    src.mkdir()
    good = js.dumps({"dropoff_datetime": "2024-01-01T00:00:00"})
    with open(src / "a.json", "wb") as fh:
        fh.write(good.encode() + b"\n")
        fh.write(b'{"dropoff_datetime": "2024-01-01T00:01:00", "x": "\xff"}\n')
        fh.write(good.encode() + b"\n")
    cfg = ReplayConfig(source_path=str(src))
    got = ndjson.read_events_sniffed(spark, cfg).collect()
    # all three rows survive: the bad byte became U+FFFD, still valid JSON
    assert len(got) == 3


def _libzstd():
    """ctypes harness for the container's libzstd.so.1 — the foreign
    witness for functions/zstd.py. Returns (compress, compress_adv,
    decompress_ref)."""
    import ctypes

    import pytest
    try:
        L = ctypes.CDLL("libzstd.so.1")
    except OSError:
        pytest.skip("libzstd.so.1 not available")
    L.ZSTD_compress.restype = ctypes.c_size_t
    L.ZSTD_compress.argtypes = [ctypes.c_void_p, ctypes.c_size_t,
                                ctypes.c_char_p, ctypes.c_size_t,
                                ctypes.c_int]
    L.ZSTD_compressBound.restype = ctypes.c_size_t
    L.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
    L.ZSTD_isError.restype = ctypes.c_uint
    L.ZSTD_isError.argtypes = [ctypes.c_size_t]
    L.ZSTD_createCCtx.restype = ctypes.c_void_p
    L.ZSTD_CCtx_setParameter.restype = ctypes.c_size_t
    L.ZSTD_CCtx_setParameter.argtypes = [ctypes.c_void_p, ctypes.c_int,
                                         ctypes.c_int]
    L.ZSTD_compress2.restype = ctypes.c_size_t
    L.ZSTD_compress2.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                 ctypes.c_size_t, ctypes.c_char_p,
                                 ctypes.c_size_t]
    L.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    L.ZSTD_decompress.restype = ctypes.c_size_t
    L.ZSTD_decompress.argtypes = [ctypes.c_void_p, ctypes.c_size_t,
                                  ctypes.c_char_p, ctypes.c_size_t]

    def compress(data, level=3):
        cap = L.ZSTD_compressBound(len(data))
        buf = ctypes.create_string_buffer(cap)
        n = L.ZSTD_compress(buf, cap, data, len(data), level)
        assert not L.ZSTD_isError(n)
        return buf.raw[:n]

    def compress_adv(data, level=3, checksum=0, windowlog=0):
        c = L.ZSTD_createCCtx()
        L.ZSTD_CCtx_setParameter(ctypes.c_void_p(c), 100, level)
        L.ZSTD_CCtx_setParameter(ctypes.c_void_p(c), 201, checksum)
        if windowlog:
            L.ZSTD_CCtx_setParameter(ctypes.c_void_p(c), 101,
                                     windowlog)
        cap = L.ZSTD_compressBound(len(data))
        buf = ctypes.create_string_buffer(cap)
        n = L.ZSTD_compress2(ctypes.c_void_p(c), buf, cap, data,
                             len(data))
        assert not L.ZSTD_isError(n)
        L.ZSTD_freeCCtx(ctypes.c_void_p(c))
        return buf.raw[:n]

    def decompress_ref(blob, cap):
        buf = ctypes.create_string_buffer(max(cap, 1))
        n = L.ZSTD_decompress(buf, cap, blob, len(blob))
        assert not L.ZSTD_isError(n), hex(n)
        return buf.raw[:n]

    return compress, compress_adv, decompress_ref


def test_zstd_decoder_matches_libzstd():
    """RFC 8878 witness: streams produced by libzstd across levels
    1..19 and content classes (empty / tiny / single-byte runs /
    random / word-soup text incl. multi-block >128 KiB / periodic)
    decode byte-exact — with DECODE-PATH COVERAGE ASSERTED via the
    module's stats hook (raw+RLE+compressed blocks, raw + compressed +
    treeless literals, 1- and 4-stream Huffman, FSE-compressed weight
    descriptions, all four LL/OF/ML table modes). Checksum frames
    verify and tampering raises; multi-frame and skippable-frame
    streams concatenate; truncation raises; the dictionary-id flag
    raises NotImplementedError; the predefined FSE distributions are
    byte-compared against libzstd's own in-binary copies."""
    import collections
    import os
    import random
    import struct

    import pytest

    import amazon_kinesis_replay_spark.functions.zstd as Z

    compress, compress_adv, _dref = _libzstd()
    rng = random.Random(1)
    words = [os.urandom(rng.randint(2, 9)) for _ in range(50)]
    cases = [b"", b"a", bytes(70000), b"\x00" * 400000,
             os.urandom(5000), b"abcdef" * 10000,
             b" ".join(rng.choice(words) for _ in range(80000))]
    Z.stats = collections.Counter()
    try:
        for data in cases:
            for level in (1, 3, 9, 19):
                assert Z.decompress(compress(data, level)) == data
        # treeless literals (lit_type_3) are an encoder heuristic
        # libzstd rarely takes — covered by the crafted-frame test
        need = {"block_0", "block_1", "block_2", "lit_type_0",
                "lit_type_2", "lit_streams_1",
                "lit_streams_4", "weights_fse", "seq_mode_0",
                "seq_mode_1", "seq_mode_2", "seq_mode_3"}
        assert need <= set(Z.stats), sorted(need - set(Z.stats))
    finally:
        Z.stats = None

    text = b" ".join(rng.choice(words) for _ in range(60000))
    blob = compress_adv(text, 9, checksum=1)
    assert Z.decompress(blob) == text
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(Z.ZstdError, match="checksum"):
        Z.decompress(bytes(bad))
    assert Z.decompress(compress_adv(text, 19, windowlog=10)) == text

    skip = struct.pack("<II", 0x184D2A53, 5) + b"hello"
    multi = compress(text[:1000]) + skip + compress_adv(text[1000:2000],
                                                        19)
    assert Z.decompress(multi) == text[:2000]
    with pytest.raises(Z.ZstdError):
        Z.decompress(blob[:len(blob) // 2])
    dicty = bytearray(compress(text[:500]))
    dicty[4] |= 1                              # dictionary-id flag
    with pytest.raises(NotImplementedError, match="dictionar"):
        Z.decompress(bytes(dicty))

    lib = open("/lib/x86_64-linux-gnu/libzstd.so.1", "rb").read()
    for arr in (Z.LL_DEFAULTS, Z.ML_DEFAULTS, Z.OF_DEFAULTS):
        assert lib.find(struct.pack(f"<{len(arr)}h", *arr)) >= 0


def test_zstd_crafted_paths_cross_checked():
    """The two decode paths libzstd's encoder never emits — RLE
    literals and DIRECT (4-bit nibble) Huffman weight descriptions —
    driven by hand-assembled frames that libzstd's DECODER must accept
    and decode identically (so the craft is foreign-validated, not a
    self-twin). Found while crafting: huff0 rejects non-minimal weight
    sets (weight-1 symbols must exist, in pairs), so the direct-weights
    fixture uses a canonical (2,1,1)+implied-3 tree."""
    import struct

    import amazon_kinesis_replay_spark.functions.zstd as Z

    _c, _ca, decompress_ref = _libzstd()

    def frame(blocks):
        return struct.pack("<I", Z.ZSTD_MAGIC) + b"\x00\x00" \
            + b"".join(blocks)

    def block(body, last=1, btype=2):
        bh = last | (btype << 1) | (len(body) << 3)
        return bytes((bh & 0xFF, (bh >> 8) & 0xFF,
                      (bh >> 16) & 0xFF)) + body

    body = bytes([1 | (20 << 3), ord("x"), 0])   # RLE literals, 0 seqs
    blob = frame([block(body)])
    assert Z.decompress(blob) == b"x" * 20
    assert decompress_ref(blob, 64) == b"x" * 20

    codebits = {0: "01", 1: "000", 2: "001", 3: "1"}
    lits = bytes([3, 3, 0, 1, 3, 2, 0, 3, 3, 0, 3, 2, 1, 3, 3, 3])
    bits = "".join(codebits[c] for c in lits)
    stream = int("1" + bits, 2).to_bytes((len(bits) + 8) // 8, "little")
    comp = bytes([127 + 3, 0x21, 0x10]) + stream
    v = 2 | (len(lits) << 4) | (len(comp) << 14)
    body = bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF)) \
        + comp + b"\x00"
    blob = frame([block(body)])
    assert Z.decompress(blob) == lits
    assert decompress_ref(blob, 64) == lits

    # TREELESS literals: block 2 reuses block 1's huffman table (the
    # lit_type_3 path libzstd's encoder rarely emits)
    body2 = bytes((3 | (len(lits) << 4) & 0xFF,
                   ((3 | (len(lits) << 4) | (len(stream) << 14))
                    >> 8) & 0xFF,
                   ((3 | (len(lits) << 4) | (len(stream) << 14))
                    >> 16) & 0xFF)) + stream + b"\x00"
    blob2 = frame([block(body, last=0), block(body2, last=1)])
    assert Z.decompress(blob2) == lits + lits
    assert decompress_ref(blob2, 64) == lits + lits


def test_read_events_sniffed_zst_shards(spark, sf_dir, tmp_path):
    """.jsonl.zst corpus shards (the modern format The Pile / RedPajama
    ship) ingest through the content-sniffing source: libzstd-written
    shards decode via the pure-Python decoder, a corrupt shard is
    skipped whole, and plain text still falls back."""
    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources.ndjson import (
        read_events_sniffed)

    compress, _ca, _d = _libzstd()
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(200).collect())

    def line(r):
        return json.dumps({"event_id": r["event_id"],
                           "dropoff_datetime": r["ts"].isoformat()})

    half = len(rows) // 2
    (tmp_path / "a.jsonl.zst").write_bytes(compress(
        ("\n".join(line(r) for r in rows[:half]) + "\n").encode(), 9))
    (tmp_path / "b.jsonl.zst").write_bytes(
        ("\n".join(line(r) for r in rows[half:]) + "\n").encode())
    bad = bytearray(compress(b"x" * 1000, 3))
    (tmp_path / "bad.jsonl.zst").write_bytes(bytes(bad[:12]))
    cfg = ReplayConfig(source_path=str(tmp_path),
                       timestamp_attribute="dropoff_datetime")
    got = read_events_sniffed(spark, cfg)
    assert got.count() == len(rows)


def test_zstd_seeded_mutation_fuzz_never_crashes():
    """Corrupt-input robustness, fuzzed: 400 seeded bit-flips and
    truncations of a libzstd stream must each either raise ZstdError /
    NotImplementedError or decode to SOME bytes — never crash with a
    foreign exception, hang, or overrun (checksum-carrying frames
    additionally catch silent corruption, covered above)."""
    import os
    import random

    import amazon_kinesis_replay_spark.functions.zstd as Z

    compress, _ca, _d = _libzstd()
    rng = random.Random(7)
    words = [os.urandom(rng.randint(2, 9)) for _ in range(50)]
    text = b" ".join(rng.choice(words) for _ in range(20000))
    blob = compress(text, 9)
    for trial in range(400):
        b = bytearray(blob)
        k = rng.randrange(len(b))
        if trial % 2:
            b[k] ^= 1 << rng.randrange(8)
            mut = bytes(b)
        else:
            mut = bytes(b[:k])
        try:
            Z.decompress(mut, max_output=1 << 24)
        except (Z.ZstdError, NotImplementedError):
            pass


def _libbrotli():
    """ctypes harness for libbrotlienc/libbrotlidec — the foreign
    witness for functions/brotli.py. Returns (compress, decompress_ref)."""
    import ctypes

    import pytest
    try:
        E = ctypes.CDLL("libbrotlienc.so.1")
        D = ctypes.CDLL("libbrotlidec.so.1")
    except OSError:
        pytest.skip("libbrotli not available")
    E.BrotliEncoderCompress.restype = ctypes.c_int
    E.BrotliEncoderCompress.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t),
        ctypes.c_void_p]
    E.BrotliEncoderMaxCompressedSize.restype = ctypes.c_size_t
    E.BrotliEncoderMaxCompressedSize.argtypes = [ctypes.c_size_t]
    D.BrotliDecoderDecompress.restype = ctypes.c_int
    D.BrotliDecoderDecompress.argtypes = [
        ctypes.c_size_t, ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_void_p]

    def compress(data, quality=9, lgwin=22, mode=0):
        cap = max(E.BrotliEncoderMaxCompressedSize(len(data)), 64)
        buf = ctypes.create_string_buffer(cap)
        n = ctypes.c_size_t(cap)
        assert E.BrotliEncoderCompress(quality, lgwin, mode, len(data),
                                       data, ctypes.byref(n), buf)
        return buf.raw[:n.value]

    def decompress_ref(blob, cap):
        buf = ctypes.create_string_buffer(max(cap, 1))
        n = ctypes.c_size_t(cap)
        rc = D.BrotliDecoderDecompress(len(blob), blob,
                                       ctypes.byref(n), buf)
        assert rc == 1
        return buf.raw[:n.value]

    return compress, decompress_ref


def test_brotli_decoder_matches_libbrotli():
    """RFC 7932 witness: streams produced by libbrotli across
    qualities 0..11, window sizes 10..24, all three encoder modes and
    content classes (english text with heavy static-dictionary usage,
    random, periodic, mixed, NUL runs) decode byte-exact — with
    decode-path coverage ASSERTED via the stats hook: compressed AND
    raw meta-blocks, simple and complex prefix codes, multi-block-type
    switching, context maps with the inverse-move-to-front transform,
    and thousands of static-dictionary references incl. transformed
    words. A hand-assembled METADATA meta-block (which encoders never
    emit; cross-validated against libbrotli's decoder) covers the skip
    path; truncation and garbage raise."""
    import collections
    import os
    import random

    import pytest

    import amazon_kinesis_replay_spark.functions.brotli as B

    compress, decompress_ref = _libbrotli()
    rng = random.Random(3)
    eng = (b"the of and to in is was that for with data time people "
           b"work information public about which their would there "
           b"this from").split()

    def english(n):
        return b" ".join(rng.choice(eng) for _ in range(n))

    B.stats = collections.Counter()
    try:
        for trial in range(26):
            kind = trial % 5
            if kind == 0:
                data = english(rng.randint(10, 60000))
            elif kind == 1:
                data = os.urandom(rng.randint(0, 300000))
            elif kind == 2:
                out = bytearray()
                while len(out) < 300000:
                    k = rng.randrange(3)
                    if k == 0:
                        out += os.urandom(400)
                    elif k == 1:
                        out += english(100)
                    else:
                        out += bytes(rng.randrange(5)) * 300
                data = bytes(out)
            elif kind == 3:
                data = bytes(rng.randrange(256)
                             for _ in range(rng.randint(0, 300)))
            else:
                data = (english(50) + b"\n") * rng.randint(1, 3000)
            blob = compress(data, rng.choice([0, 1, 2, 4, 6, 9, 11]),
                            rng.choice([10, 16, 18, 22, 24]),
                            rng.choice([0, 1, 2]))
            assert B.decompress(blob) == data, trial
        need = {"metablock_compressed", "metablock_raw", "code_simple",
                "code_complex", "multi_block_types", "context_map",
                "context_map_imtf", "dictionary", "dictionary_transform"}
        assert need <= set(B.stats), sorted(need - set(B.stats))
    finally:
        B.stats = None

    # metadata meta-block craft (encoders never emit one)
    blob = bytes.fromhex("2c024d4554414403")
    assert decompress_ref(blob, 16) == b""
    assert B.decompress(blob) == b""

    text = english(5000)
    blob = compress(text, 9)
    with pytest.raises(B.BrotliError):
        B.decompress(blob[:len(blob) // 2])
    with pytest.raises(B.BrotliError):
        B.decompress(b"\x1b\xff\xff\xff\xff\xff")


def test_brotli_http_payload_and_br_ingest(spark, sf_dir, tmp_path):
    """`.jsonl.br` shard ingest through the sniffing source — brotli has
    no magic, so the `.br` path suffix dispatches it (never overriding a
    sniffed codec); a corrupt .br shard skips whole."""
    import gzip as _gzip

    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources.ndjson import (
        read_events_sniffed)

    compress, _d = _libbrotli()

    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(120).collect())

    def line(r):
        return json.dumps({"event_id": r["event_id"],
                           "dropoff_datetime": r["ts"].isoformat()})

    half = len(rows) // 2
    (tmp_path / "a.jsonl.br").write_bytes(compress(
        ("\n".join(line(r) for r in rows[:half]) + "\n").encode(), 9))
    (tmp_path / "b.jsonl.gz").write_bytes(_gzip.compress(
        ("\n".join(line(r) for r in rows[half:]) + "\n").encode()))
    (tmp_path / "bad.jsonl.br").write_bytes(b"\x1b\xff\xff\xff\xff")
    cfg = ReplayConfig(source_path=str(tmp_path),
                       timestamp_attribute="dropoff_datetime")
    got = read_events_sniffed(spark, cfg)
    assert got.count() == len(rows)


def test_brotli_seeded_mutation_fuzz_never_crashes():
    """Corrupt-input robustness for the brotli decoder (the zstd fuzz
    contract): 400 seeded bit-flips and truncations of a libbrotli
    stream each either raise BrotliError or decode to SOME bytes —
    never a foreign exception, hang, or unbounded output."""
    import random

    import amazon_kinesis_replay_spark.functions.brotli as B

    compress, _d = _libbrotli()
    rng = random.Random(7)
    eng = (b"the of and to in is was that for with data time people "
           b"work information public about").split()
    text = b" ".join(rng.choice(eng) for _ in range(8000))
    blob = compress(text, 9)
    for trial in range(400):
        b = bytearray(blob)
        k = rng.randrange(len(b))
        if trial % 2:
            b[k] ^= 1 << rng.randrange(8)
            mut = bytes(b)
        else:
            mut = bytes(b[:k])
        try:
            B.decompress(mut, max_output=1 << 24)
        except B.BrotliError:
            pass


def test_brotli_magic_collision_fallback(spark, sf_dir, tmp_path):
    """ADVICE r10 item 2: a brotli stream whose leading bytes collide
    with another codec's magic must still ingest when the path says
    .br. DETERMINISTIC collision: with lgwin=24 the brotli header bits
    are WBITS '1111', ISLAST=1, ISLASTEMPTY=0, MNIBBLES='00' -> byte0
    = 0x1f, and byte1 = low byte of (MLEN-1), so ANY 140-byte payload
    compressed as one metablock starts \\x1f\\x8b — the gzip magic.
    decompress_auto must fall back to brotli after gzip fails instead
    of classifying the object corrupt (silent data loss at scale);
    a genuinely corrupt .br object still raises the ORIGINAL error."""
    import gzip as _gzip

    import pytest

    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources.lz4frame import (
        decompress_auto, sniff_codec)
    from amazon_kinesis_replay_spark.sources.ndjson import (
        read_events_sniffed)

    compress, _d = _libbrotli()
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(2).collect())
    lines = [json.dumps({"event_id": r["event_id"],
                         "dropoff_datetime": r["ts"].isoformat()})
             for r in rows]
    pad = 140 - (len(lines[0]) + 1
                 + len('{"event_id": 0, "pad": ""}') + 1)
    assert pad > 0
    tail = json.dumps({"event_id": 0, "pad": "x" * pad})
    payload = ("\n".join([lines[0], tail]) + "\n").encode()
    assert len(payload) == 140
    blob = compress(payload, 9, 24)
    assert blob[:2] == b"\x1f\x8b"          # the engineered collision
    assert sniff_codec(blob[:8]) == "gzip"  # sniffer is fooled...
    assert decompress_auto(blob, path="x/a.jsonl.br") == payload

    # ...and a corrupt .br object raises the ORIGINAL sniffed error
    # (gzip: BadGzipFile/EOFError — both in the ingest skip tuple)
    assert _gzip.BadGzipFile                # imported for documentation
    with pytest.raises((OSError, EOFError)):
        decompress_auto(b"\x1f\x8b" + b"\xff" * 6, path="x/bad.br")

    (tmp_path / "coll.jsonl.br").write_bytes(blob)
    cfg = ReplayConfig(source_path=str(tmp_path),
                       timestamp_attribute="dropoff_datetime")
    got = read_events_sniffed(spark, cfg)
    assert got.count() == 1                 # pad row has no ts -> dropped


def test_zstd_dictionary_frame_skipped_not_fatal(spark, sf_dir, tmp_path):
    """ADVICE r10 item 1: a spec-valid dictionary-compressed zstd frame
    is undecodable here (no dictionary support); it must SKIP like any
    other undecodable object instead of aborting the ingest job, while
    direct codec callers still see a loud NotImplementedError gate."""
    import pytest

    import amazon_kinesis_replay_spark.functions.zstd as Z
    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources.ndjson import (
        read_events_sniffed)

    # minimal frame header with dict_flag set (magic + FHD byte)
    dict_frame = bytes.fromhex("28b52ffd") + bytes([0x01]) + b"\x00" * 8
    with pytest.raises(NotImplementedError):
        Z.decompress(dict_frame)
    with pytest.raises(Z.ZstdError):        # ingest skip-tuple class
        Z.decompress(dict_frame)

    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(50).collect())
    text = "\n".join(json.dumps({"event_id": r["event_id"],
                                 "dropoff_datetime": r["ts"].isoformat()})
                     for r in rows) + "\n"
    (tmp_path / "good.jsonl").write_text(text)
    (tmp_path / "dict.jsonl.zst").write_bytes(dict_frame)
    cfg = ReplayConfig(source_path=str(tmp_path),
                       timestamp_attribute="dropoff_datetime")
    got = read_events_sniffed(spark, cfg)
    assert got.count() == len(rows)         # dict frame skipped whole


def test_read_events_sniff_fallback_mixed_dir(spark, sf_dir, tmp_path):
    """A mixed dir — plain NDJSON, a mis-extensioned lz4-frame file named
    .json (unreadable as text) and a gzip file named .jsonl (Hadoop won't
    decompress without the .gz suffix): the lazy text scan reads only the
    plain file, and the sniffed binaryFile path, the fallback for such
    corpora (the reference's CompressorException fallback,
    JsonEventS3Iterator.java:162-167), loads all three exactly once."""
    import gzip as _gzip

    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources import ndjson
    from amazon_kinesis_replay_spark.sources.lz4frame import frame_compress

    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(90).collect())

    def text_of(chunk):
        return "\n".join(
            json.dumps({"event_id": r["event_id"],
                        "dropoff_datetime": r["ts"].isoformat()})
            for r in chunk) + "\n"

    (tmp_path / "plain.jsonl").write_text(text_of(rows[:30]))
    (tmp_path / "mislabeled_lz4.json").write_bytes(
        frame_compress(text_of(rows[30:60]).encode()))
    (tmp_path / "mislabeled_gz.jsonl").write_bytes(
        _gzip.compress(text_of(rows[60:]).encode()))

    cfg = ReplayConfig(source_path=str(tmp_path),
                       timestamp_attribute="dropoff_datetime")
    lazy = ndjson.read_events(spark, cfg)
    assert lazy.count() == 30
    lazy_plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "Scan text" in lazy_plan, lazy_plan

    got = ndjson.read_events_sniffed(spark, cfg).select("payload").collect()
    assert len(got) == len(rows)                      # all three files
    assert len({r["payload"] for r in got}) == len(rows)  # no dups
