"""Property-based operator invariants."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# -- property-based invariants (hypothesis) ---------------------------------

_texts = st.lists(
    st.text(alphabet="abcd efg", min_size=1, max_size=60),
    min_size=2, max_size=12)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(_texts)
def test_jaccard_pairs_invariants(texts):
    """Jaccard output: id_a<id_b, 0<j<=1, and symmetric under id relabeling."""
    import tests.conftest as c
    from amazon_kinesis_replay_spark.operators import dedup
    from conftest import engine_session
    spark = engine_session()
    df = spark.createDataFrame(
        [(i, t if t.strip() else "x") for i, t in enumerate(texts)],
        "doc_id LONG, text STRING")
    rows = dedup.ngram_jaccard_pairs(df, "doc_id", "text",
                                     threshold=0.0).collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.0 < r["jaccard"] <= 1.0
    # identical texts must appear with jaccard exactly 1
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault((t if t.strip() else "x").strip().lower(), []).append(i)
    dup_pairs = {(a, b) for ids in by_text.values() if len(ids) > 1
                 for a in ids for b in ids if a < b}
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    for pair in dup_pairs:
        assert got.get(pair) == 1.0


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=1, max_size=200, unique=True))
def test_global_index_is_a_permutation(keys):
    from amazon_kinesis_replay_spark.operators import replay_ops
    from conftest import engine_session
    spark = engine_session()
    df = spark.createDataFrame([(k,) for k in keys], "k LONG")
    out = replay_ops.with_global_index(df, ["k"])
    got = {r["k"]: r["__rn"] for r in out.collect()}
    expect = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=3),
                min_size=1, max_size=300))
def test_global_index_with_heavy_first_key_ties(firsts):
    """The quantile-bounds pid assignment groups EVERY run of equal
    first-keys into one bucket (ties are never split across partitions);
    the secondary key must still produce the exact global (k, uniq)
    numbering. Hammers the tie path with only 4 distinct first-key
    values over up to 300 rows."""
    from amazon_kinesis_replay_spark.operators import replay_ops
    from conftest import engine_session
    spark = engine_session()
    rows = [(k, i) for i, k in enumerate(firsts)]
    df = spark.createDataFrame(rows, "k LONG, uniq LONG")
    out = replay_ops.with_global_index(df, ["k", "uniq"])
    got = {(r["k"], r["uniq"]): r["__rn"] for r in out.collect()}
    expect = {t: i + 1 for i, t in enumerate(sorted(rows))}
    assert got == expect


def test_global_index_rejects_string_first_key():
    """Range bounds need an order-preserving double: a first order column
    that is neither numeric nor a timestamp is refused by name."""
    import pytest

    from amazon_kinesis_replay_spark.operators import replay_ops
    from conftest import engine_session
    spark = engine_session()
    df = spark.createDataFrame([("a", 1)], "k STRING, uniq LONG")
    with pytest.raises(TypeError, match="numeric/timestamp first order "
                                        "column.*got k: string"):
        replay_ops.with_global_index(df, ["k", "uniq"])


@settings(deadline=None, max_examples=40,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    w=st.integers(1, 24), h=st.integers(1, 24),
    n_colors_log=st.integers(1, 8),
    interlace=st.booleans(),
    data=st.data(),
)
def test_gif_codec_round_trip_property(w, h, n_colors_log, interlace, data):
    """Property: decode(encode(indices, palette)) reproduces exactly the
    palette-mapped raster for ANY size, power-of-two palette, pixel
    content, and interlace flag — the LZW variable-code-width pairing and
    the deinterlace reordering have no size-dependent edge cases."""
    from amazon_kinesis_replay_spark.functions.gif import (
        decode_gif, encode_gif)
    n_colors = 1 << n_colors_log
    palette = bytes(data.draw(st.lists(
        st.integers(0, 255), min_size=3 * n_colors, max_size=3 * n_colors)))
    idx = bytes(data.draw(st.lists(
        st.integers(0, n_colors - 1), min_size=w * h, max_size=w * h)))
    got_w, got_h, rgb = decode_gif(
        encode_gif(w, h, idx, palette, interlace=interlace))
    assert (got_w, got_h) == (w, h)
    assert rgb == b"".join(palette[3 * c:3 * c + 3] for c in idx)


def test_gif_background_comes_from_global_table_with_local_frame():
    """A frame with a LOCAL color table smaller than the global one plus
    a large background index: the background color must come from the
    GLOBAL table (GIF89a spec — the LSD background index refers to the
    GCT), and the raster must be exactly screen-sized. Slicing the local
    table would yield a short bg slice and a garbled, mis-sized raster
    (r6 ADVICE)."""
    import struct

    from amazon_kinesis_replay_spark.functions.gif import (
        _lzw_encode, decode_gif)

    gct = b"".join(bytes((10 * i, 10 * i + 1, 10 * i + 2))
                   for i in range(8))                       # 8 colors
    local = bytes((200, 0, 0, 0, 200, 0))                   # 2 colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 4, 4, 0x80 | 2, 5, 0)      # bg_idx=5
    out += gct
    out += struct.pack("<BHHHHB", 0x2C, 1, 1, 2, 2, 0x80)   # local table
    out += local
    lzw = _lzw_encode(2, bytes((0, 1, 1, 0)))
    out.append(2)
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        out.append(len(chunk))
        out += chunk
    out += bytes((0, 0x3B))

    w, h, rgb = decode_gif(bytes(out))
    assert (w, h, len(rgb)) == (4, 4, 48)

    def px(x, y):
        return rgb[3 * (y * 4 + x):3 * (y * 4 + x) + 3]

    bg = bytes((50, 51, 52))                                # GCT color 5
    assert px(0, 0) == bg and px(3, 3) == bg and px(3, 0) == bg
    assert px(1, 1) == bytes((200, 0, 0))
    assert px(2, 1) == bytes((0, 200, 0))
    assert px(1, 2) == bytes((0, 200, 0))
    assert px(2, 2) == bytes((200, 0, 0))


@settings(deadline=None, max_examples=40,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    w=st.integers(1, 16), h=st.integers(1, 16),
    ctype=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
def test_png_adam7_round_trip_property(w, h, ctype, data):
    """Property: an Adam7-interlaced encode decodes back to the exact
    source raster for ANY size (including sizes where late passes are
    empty), color type, and per-row filter mix — pass extraction,
    per-pass filter restart, and reassembly are mutually inverse."""
    from amazon_kinesis_replay_spark.operators.multimodal import (
        _parse_png, encode_png)
    channels = {0: 1, 2: 3, 6: 4}[ctype]
    raster = bytes(data.draw(st.lists(
        st.integers(0, 255), min_size=w * h * channels,
        max_size=w * h * channels)))
    filters = data.draw(st.lists(st.integers(0, 4), min_size=1, max_size=5))
    png = encode_png(w, h, raster, ctype=ctype, filters=filters,
                     interlace=True)
    gw, gh, pixels = _parse_png(png)
    assert (gw, gh) == (w, h)
    if ctype == 2:
        assert pixels == raster
    else:
        # _parse_png returns raw channel bytes for non-RGB types too
        assert pixels == raster


def test_fsutil_local_roundtrip(spark, tmp_path):
    """fsutil routes through the Hadoop FileSystem for the path's scheme;
    on local paths it must agree with the OS — including the
    committed-output distinction (_temporary-only dirs are NOT complete
    output)."""
    from amazon_kinesis_replay_spark import fsutil

    d = tmp_path / "fsu"
    d.mkdir()
    p = str(d / "x")
    assert not fsutil.exists(spark, p)
    (d / "x").mkdir()
    assert fsutil.exists(spark, p)
    # dir with only hidden/_temporary content != committed output
    (d / "x" / "_temporary").mkdir()
    assert not fsutil.has_committed_output(spark, p)
    (d / "x" / "part-00000").write_bytes(b"data")
    assert fsutil.has_committed_output(spark, p)
    fsutil.delete(spark, p)
    assert not fsutil.exists(spark, p)
    # _SUCCESS alone also marks committed output
    (d / "z").mkdir()
    (d / "z" / "_SUCCESS").write_bytes(b"")
    assert fsutil.has_committed_output(spark, str(d / "z"))


def test_resize_and_resample_identity():
    """Identity properties: resizing to the source size returns the
    source raster; resampling to the source rate returns the source
    samples (np.interp on exact integer coordinates)."""
    import numpy as np

    from amazon_kinesis_replay_spark.operators.multimodal import _resize_nn
    rng = np.random.RandomState(7)
    for w, h, c in ((5, 3, 3), (1, 1, 1), (8, 2, 4)):
        px = rng.randint(0, 256, size=w * h * c, dtype=np.uint8).tobytes()
        assert _resize_nn(px, w, h, c, w, h) == px


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1),
                min_size=1, max_size=60))
def test_qhist_buckets_property_match_twin(values):
    """late r8 property pin: the quantile-histogram bucket id equals the
    pure-integer python twin for ARBITRARY longs — hypothesis hammers
    the power-of-two boundaries and the >2^53 range where a floating
    log2 implementation would misbucket."""
    from amazon_kinesis_replay_spark.operators import sketches
    from conftest import engine_session
    spark = engine_session()
    S = 7
    df = spark.createDataFrame([(v,) for v in values], "v LONG")
    got = {r["bucket"]: r["cnt"] for r in
           sketches.qhist_table(df, "v").collect()}
    want: dict = {}
    for v in values:
        if v == 0:
            b = 0
        else:
            e = v.bit_length() - 1
            b = (e << S) + ((v - (1 << e)) >> max(e - S, 0)) + 1
        want[b] = want.get(b, 0) + 1
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(
    st.text(alphabet="ab \t\n\x0b\f\r é", min_size=0, max_size=30),
    min_size=1, max_size=8))
def test_tokens_spark_twin_property(texts):
    """tokens_spark == the package tokenizer (text.tokens_expr) on
    adversarial whitespace: tabs/newlines at the edges (trim strips
    spaces ONLY),
    vertical tab / form feed (Java \\s includes \\x0b), and NBSP +
    non-ASCII letters (Java \\s is ASCII-only — python's unicode \\s
    would split on NBSP and silently diverge). Every trainer/retrieval
    twin tokenizes through this one function, so this property is the
    floor under all of them."""
    from amazon_kinesis_replay_spark.functions.xxh import tokens_spark
    from amazon_kinesis_replay_spark.operators.text import tokens_expr
    from conftest import engine_session
    spark = engine_session()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i LONG, t STRING")
    got = {r["i"]: r["toks"] for r in df.selectExpr(
        "i", f"{tokens_expr('t')} AS toks").collect()}
    for i, t in enumerate(texts):
        assert got[i] == tokens_spark(t), repr(t)
