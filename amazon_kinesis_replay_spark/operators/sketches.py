"""Mergeable sketches as DataFrame tables.

At 100 TB you do not answer membership or distribution questions by
shuffling every key — you build a sketch per partition-of-time/source,
store it as a tiny table, and MERGE sketches associatively (daily
sketch + daily sketch = weekly sketch, no re-scan of history):

- HyperLogLog (Flajolet et al. 2007): `_hll_bucket_rho_sql` gives the
  (bucket, rho) register coordinates over xxhash64 that
  agg_events_by_type folds into per-event-type register statistics.
- Bloom (1970): sparse set-bit table; idempotent OR merge; exact
  negative side.
- Quantile histogram (HdrHistogram-style log buckets): (bucket, cnt)
  with bounded relative value error; cell-wise-sum merge; see the
  section comment for why KLL/t-digest were rejected here.

All are DETERMINISTIC (hash-derived or pure integer arithmetic, no
RNG) — sketches of the same data are bit-identical across runs,
partitionings, and engines that share the hash, the property that
makes them safe to reconcile across pipelines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------


def _hll_bucket_rho_sql(col: str, p: int) -> tuple[str, str]:
    """(bucket, rho) Spark-SQL expressions of one hashed value — the HLL
    register coordinates agg_events_by_type folds with max(rho) per
    bucket. bucket = top p bits of xxhash64(value); rho = position of
    the first 1-bit in the remaining 64-p bits (1-based; 64-p+1 when
    they are all zero).

    shiftrightunsigned(rest, 1) guarantees a non-negative value for
    %d/conv (conv of base-10 negative strings would sign-wrap); the
    shift moves every bit one position right, so the first '1' lands
    at char rho+1 of the padded string — rho = instr - 1. The lost low
    bit is always shiftleft padding (p >= 1), and an all-zero remainder
    yields instr=0, mapped to the spec's 64-p+1."""
    h = f"xxhash64({col})"
    bucket = f"CAST(shiftrightunsigned({h}, {64 - p}) AS BIGINT)"
    bits = (f"lpad(conv(format_string('%d', shiftrightunsigned("
            f"shiftleft({h}, {p}), 1)), 10, 2), 64, '0')")
    rho = (f"CAST(CASE WHEN (instr({bits}, '1') - 1) = -1 "
           f"THEN {64 - p + 1} ELSE (instr({bits}, '1') - 1) END AS INT)")
    return bucket, rho


# --------------------------------------------------------------------------
# Bloom filter (Bloom 1970) — mergeable approximate-membership table
# --------------------------------------------------------------------------
#
# The membership sketch (with HLL for cardinality): answers "possibly
# seen / definitely not seen". At 100 TB the canonical uses are dedup
# pre-filters (skip the exact check for definitely-new keys) and
# cross-pipeline reconciliation (ship a few MB of bits instead of
# re-scanning a corpus for membership). Stored SPARSE: a table of SET
# bit positions, so an empty filter is zero rows, merge is a distinct
# union (idempotent OR — safe under replay), and the table stays small
# until the filter actually fills.


def bloom_table(df: DataFrame, col: str, m: int = 1 << 20,
                k: int = 4) -> DataFrame:
    """Sparse Bloom filter of a column: the DISTINCT set bit positions
    (bit long) of an m-bit filter with k hash rows. Positions come from
    a multi-column xxhash64 salting (hash-row index as a separate
    column — no concat ambiguity; NULLs excluded — Spark hash functions
    skip null columns, which would alias the salt-only hash). One
    explode (factor k) + one map-side-combinable distinct; at most m
    rows survive regardless of input size."""
    if m < 8 or k < 1:
        raise ValueError(f"need m >= 8 and k >= 1, got m={m} k={k}")
    rows = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("hash_i")
    # salt cast to LONG so the chained hash is pure-python twin-computable
    # (xxh64_long(i) as the seed of xxh64_string(v) — the hash-gate
    # pattern; Spark hashes int and long columns differently)
    return (df.select(F.col(col).cast("string").alias("__v"))
            .filter(F.col("__v").isNotNull())
            .select("__v", rows)
            .select(F.pmod(F.xxhash64(F.col("hash_i").cast("long"),
                                      F.col("__v")),
                           F.lit(m)).alias("bit"))
            .distinct())


def bloom_merge(*tables: DataFrame) -> DataFrame:
    """Bitwise OR = distinct union of set positions. Idempotent and
    commutative — merging a filter with itself is a no-op, so replayed
    batches cannot corrupt it (the property a counting sketch lacks)."""
    if not tables:
        raise ValueError("bloom_merge needs at least one table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.distinct()


def bloom_contains(bloom: DataFrame, items: DataFrame, col: str,
                   m: int = 1 << 20, k: int = 4) -> DataFrame:
    """Membership probe: (item, maybe_present). maybe_present=False is
    EXACT (no false negatives: every inserted item's k bits are set);
    True is probabilistic with the standard FPP ~ (1 - e^(-kn/m))^k.
    Re-derives each item's k positions, LEFT-joins the bit table, and
    requires all k present — a hash equi-join against an at-most-m-row
    broadcastable table, never a scan of the source data."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("hash_i")
    probes = (items.select(F.col(col).cast("string").alias("item"))
              .filter(F.col("item").isNotNull())
              .distinct()
              .select("item", rows)
              .select("item",
                      F.pmod(F.xxhash64(F.col("hash_i").cast("long"),
                                        F.col("item")),
                             F.lit(m)).alias("bit")))
    hit = bloom.select("bit").distinct().withColumn("__set", F.lit(1))
    return (probes.join(hit, "bit", "left")
            .groupBy("item")
            .agg((F.count("__set") == F.count("*"))
                 .alias("maybe_present")))


def bloom_fpp(n_items: int, m: int = 1 << 20, k: int = 4) -> float:
    """Textbook false-positive probability after n insertions."""
    return (1.0 - math.exp(-k * n_items / float(m))) ** k


# --------------------------------------------------------------------------
# Quantile histogram (HdrHistogram-style log-bucketed counts)
# --------------------------------------------------------------------------
#
# The distribution sketch (HLL = cardinality, Bloom = membership, this =
# quantiles). The classic rank-sketch candidates violate this module's
# determinism contract: KLL compacts via coin flips (randomized), and a
# t-digest's centroids depend on the MERGE ORDER, so a distributed build
# changes with partitioning. A log-bucketed
# histogram (the HdrHistogram idea) is deterministic pure-integer
# arithmetic — bit-identical across runs, partitionings, and engines —
# fully mergeable by cell-wise sum, and bounds RELATIVE value error at
# 2^-(sig_bits+1) per quantile (values below 2^sig_bits are EXACT: each
# gets its own bucket). The trade vs KLL is a value-space (not rank-space)
# guarantee and a non-negative-integer domain — the right artifact for
# the latency/size/count rollups a pipeline actually stores. Scale shape
# matches the other sketches: one map-side-combinable groupBy; at most
# ~64 * 2^sig_bits buckets survive regardless of input size.


def _qhist_bucket(sig_bits: int) -> Column:
    """Bucket id for a non-negative long column __v. 0 -> bucket 0; else
    with exp = floor(log2(v)) (computed EXACTLY as bit_length - 1 via a
    base-2 string conv — floating log2 misbuckets near powers of two
    once v > 2^53), slot = the top sig_bits of the mantissa:
    bucket = exp * 2^sig_bits + slot + 1. Pure integer ops — the python
    twin is ((v.bit_length()-1) << S) + ((v - 2^exp) >> max(exp-S, 0)) + 1."""
    S = sig_bits
    exp = F.length(F.conv(F.format_string("%d", F.col("__v")), 10, 2)) - 1
    slot = F.expr(
        f"shiftrightunsigned(__v - shiftleft(cast(1 as bigint), "
        f"length(conv(format_string('%d', __v), 10, 2)) - 1), "
        f"greatest(length(conv(format_string('%d', __v), 10, 2)) - 1 - {S},"
        f" 0))")
    return (F.when(F.col("__v") < 0,
                   F.raise_error(F.format_string(
                       "qhist: negative value %d (domain is non-negative "
                       "longs; pre-scale or offset signed data)",
                       F.col("__v"))).cast("long"))
            .when(F.col("__v") == 0, F.lit(0).cast("long"))
            .otherwise((exp.cast("long") * F.lit(1 << S)
                        + slot + F.lit(1)).cast("long")))


def qhist_table(df: DataFrame, col: str) -> DataFrame:
    """Quantile-histogram table (bucket, cnt) of a non-negative integer
    column at 7 significant bits. One projection + one
    map-side-combinable groupBy; at most 64 * 2^7 rows survive.
    Deterministic (no hashing, no RNG): rebuilds and re-partitionings
    are bit-identical — the property that makes per-day tables safe to
    reconcile across pipelines. Read it back with qhist_quantiles'
    default sig_bits."""
    return (df.select(F.col(col).cast("long").alias("__v"))
            .filter(F.col("__v").isNotNull())
            .select(_qhist_bucket(7).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("cnt")))


def qhist_merge(*tables: DataFrame) -> DataFrame:
    """Cell-wise sum (associative/commutative, NOT idempotent —
    self-merge double-counts; dedupe batches upstream for replay
    safety)."""
    if not tables:
        raise ValueError("qhist_merge needs at least one table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def _qhist_value(sig_bits: int, point: str = "mid") -> Column:
    """Representative value of a bucket column as double: bucket 0 -> 0;
    else decode (exp, slot), lo = 2^exp + slot * 2^shift. point='mid'
    (default) returns lo + (2^shift - 1)/2 — |midpoint - any value in
    the bucket| <= (width-1)/2, relative error <= 2^-(sig_bits+1).
    point='lower' returns lo — the bucket's smallest member, the
    conservative choice for thresholds (value >= lower keeps every
    member of the bucket and above)."""
    if point not in ("mid", "lower"):
        raise ValueError(f"point must be 'mid' or 'lower', got {point!r}")
    S = sig_bits
    lo = (
        f"cast(shiftleft(cast(1 as bigint), cast((bucket - 1) div {1 << S}"
        f" as int)) + shiftleft(pmod(bucket - 1, {1 << S}), "
        f"greatest(cast((bucket - 1) div {1 << S} as int) - {S}, 0)) "
        f"as double)")
    half = (
        f" + cast(shiftleft(cast(1 as bigint), "
        f"greatest(cast((bucket - 1) div {1 << S} as int) - {S}, 0)) - 1 "
        f"as double) / 2.0")
    return F.expr(
        f"CASE WHEN bucket = 0 THEN cast(0 as double) ELSE "
        f"{lo}{half if point == 'mid' else ''} END")


def qhist_quantiles(qh: DataFrame, probs: list[float],
                    sig_bits: int = 7, point: str = "mid") -> DataFrame:
    """Quantile estimates from the table: DataFrame (prob, value_est),
    value_est = the `point` ('mid'/'lower') of the bucket holding rank
    ceil(prob * n) (1-based, clamped to >= 1). The cumulative walk is a
    window over the at-most-8k-row sketch table — never over the source
    data; the probs and total-count frames are broadcast 1-row/tiny
    joins."""
    from pyspark.sql import Window
    spark = qh.sparkSession
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    cum = qh.withColumn("__cum", F.sum("cnt").over(w))
    tot = qh.agg(F.sum("cnt").alias("__n"))
    pdf = spark.createDataFrame([(float(p),) for p in probs],
                                "prob double")
    target = F.greatest(F.ceil(F.col("prob") * F.col("__n")), F.lit(1))
    return (cum.crossJoin(F.broadcast(tot))
            .join(F.broadcast(pdf),
                  (F.col("__cum") >= target)
                  & (F.col("__cum") - F.col("cnt") < target))
            .select("prob",
                    _qhist_value(sig_bits, point).alias("value_est")))
