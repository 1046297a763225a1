"""Layout keys: the Z-order interleave and its twins, and the Hilbert
curve walks and lookup tables."""

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import layout
from amazon_kinesis_replay_spark.tables import load


def test_zvalue_matches_python_twin(spark, sf_dir):
    """Spark's shift/mask interleave == the driver twin on real rows
    (and via zvalue_sql the same arithmetic is what the registry gate
    runs in DuckDB — one bit-placement source of truth)."""
    ev = (load(spark, sf_dir, "events")
          .select(F.pmod(F.col("user_id"), F.lit(256)).alias("u"),
                  F.pmod(F.unix_millis("ts"), F.lit(256)).alias("m"))
          .limit(200))
    got = ev.withColumn(
        "z", layout.zvalue([F.col("u"), F.col("m")], bits=8)).collect()
    for r in got:
        assert r["z"] == layout.zvalue_py([r["u"], r["m"]], bits=8)
    # the SQL twin emits the identical bit placement, each term fully
    # parenthesized (DuckDB's flat bitwise-operator precedence)
    sql = layout.zvalue_sql(["u", "m"], bits=8)
    assert "((((u) >> 0) & 1) << 0)" in sql
    assert f"<< {7 * 2 + 1})" in sql         # top bit of dim 1


def test_zvalue_py_interleaves() -> None:
    # 1-D: identity on the low bits
    assert layout.zvalue_py([0b1011], bits=4) == 0b1011
    # 2-D: x bits at even, y bits at odd positions
    assert layout.zvalue_py([0b11, 0b00], bits=2) == 0b0101
    assert layout.zvalue_py([0b00, 0b11], bits=2) == 0b1010
    assert layout.zvalue_py([0b10, 0b01], bits=2) == 0b0110


def test_zvalue_guards() -> None:
    with pytest.raises(ValueError, match="> 63"):
        layout.zvalue([F.col("a")] * 8, bits=8)
    with pytest.raises(ValueError, match="1..8"):
        layout.zvalue([], bits=8)


# -- Hilbert option ---------------------------------------------------------

def test_hilbert_is_a_continuous_bijection() -> None:
    """The defining Hilbert properties at bits=4 (256 cells): every
    curve position hit exactly once (bijection), and consecutive
    positions are GRID NEIGHBORS (|dx|+|dy| == 1) — the adjacency
    z-order famously lacks."""
    bits = 4
    n = 1 << bits
    pos = {}
    for x in range(n):
        for y in range(n):
            d = layout.hilbert_py(x, y, bits)
            assert d not in pos
            pos[d] = (x, y)
    assert sorted(pos) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_nd_2d_matches_rotation_walk():
    """The two independent 2-D Hilbert derivations — the xy2d rotation
    walk (hilbert_py, the kind='hilbert' oracle's builder) and the 2-D
    instance of Skilling's transpose algorithm (hilbert_py_nd, the
    engine's builder) — agree on EVERY cell of the full grid at bits
    1..6 (the gate's operating point is 6) and on random cells at
    bits=8. This equality is what lets the engine and the 2-D oracle
    agree."""
    import random
    for bits in range(1, 7):
        n = 1 << bits
        for x in range(n):
            for y in range(n):
                assert (layout.hilbert_py_nd([x, y], bits)
                        == layout.hilbert_py(x, y, bits)), (bits, x, y)
    rng = random.Random(11)
    for _ in range(500):
        x, y = rng.randrange(256), rng.randrange(256)
        assert (layout.hilbert_py_nd([x, y], 8)
                == layout.hilbert_py(x, y, 8))


def test_hilbert_nd_bijection_adjacency_and_2d_equality():
    """The n-D Skilling walk keeps the defining Hilbert properties in
    3-D (bits=3, 512 cells) and 4-D (bits=2, 256 cells): every index
    hit exactly once, and consecutive indices are GRID NEIGHBORS
    (one coordinate changes by exactly 1). Its 2-D instance equals
    the rotation walk."""
    for dims, bits in ((3, 3), (4, 2)):
        n = 1 << bits
        pos = {}

        def _walk(prefix):
            if len(prefix) == dims:
                d = layout.hilbert_py_nd(prefix, bits)
                assert d not in pos
                pos[d] = tuple(prefix)
                return
            for v in range(n):
                _walk(prefix + [v])
        _walk([])
        assert sorted(pos) == list(range(n ** dims))
        for d in range(n ** dims - 1):
            delta = [abs(a - b) for a, b in zip(pos[d], pos[d + 1])]
            assert sorted(delta) == [0] * (dims - 1) + [1], (dims, d)
    for x in range(16):
        for y in range(16):
            d = layout.hilbert_py_nd([x, y], 4)
            assert d == layout.hilbert_py(x, y, 4)


def test_hilbert_decode_direction_is_exact_inverse():
    """INDEPENDENT n-D derivation gate (r10, r9 verdict item 4):
    `hilbert_axes_py_nd` implements the DECODE direction straight from
    the paper's primary code (TransposetoAxes: Gray decode first, undo
    sweep ascending) — no code shared with the encode walk. Full-grid
    inverse equality at 2-D/3-D/4-D plus seeded random samples up to
    8 bits certifies the two walks are mutually inverse constructions
    of the same curve; the registry's dedup_exact kind='hilbert_nd'
    oracle builds its lookup from THIS function. (A Butz/Hamilton
    entry-direction state walk was brute-force-checked over all 1152
    input-side conventions and is a DIFFERENT valid 3-D curve — the
    docstring records the negative result.)"""
    import random

    from itertools import product
    for dims, bits in ((2, 4), (3, 3), (4, 2)):
        for c in product(range(1 << bits), repeat=dims):
            h = layout.hilbert_py_nd(list(c), bits)
            assert layout.hilbert_axes_py_nd(h, bits, dims) == list(c)
        # and the other composition order: decode(h) re-encodes to h
        for h in range(1 << (dims * bits)):
            c = layout.hilbert_axes_py_nd(h, bits, dims)
            assert layout.hilbert_py_nd(c, bits) == h
    rng = random.Random(41)
    for dims, bits in ((2, 8), (3, 5), (4, 4), (5, 3)):
        for _ in range(400):
            c = [rng.randrange(1 << bits) for _ in range(dims)]
            h = layout.hilbert_py_nd(c, bits)
            assert layout.hilbert_axes_py_nd(h, bits, dims) == c


def test_hilbert_lookup_guards() -> None:
    """The n-D lookup builder refuses a grid too large to broadcast and a
    single dimension before building a row."""
    with pytest.raises(ValueError, match="> 16"):
        layout.hilbert_lookup_nd(None, bits=8, dims=3)
    with pytest.raises(ValueError, match=">= 2 dim"):
        layout.hilbert_lookup_nd(None, bits=4, dims=1)
