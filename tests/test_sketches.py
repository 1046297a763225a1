"""Sketch tables: HLL register coordinates, Bloom filters and quantile
histograms — exactness vs pure-python twins, accuracy, and merge
algebra."""

from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.functions.xxh import xxh64_long
from amazon_kinesis_replay_spark.operators import sketches
from amazon_kinesis_replay_spark.tables import load


def _py_registers(values, p):
    regs = {}
    for v in values:
        h = xxh64_long(v) & ((1 << 64) - 1)     # raw 64-bit pattern
        bucket = h >> (64 - p)
        rest = (h << p) & ((1 << 64) - 1)
        rho = 64 - p + 1
        for i in range(64):
            if rest & (1 << (63 - i)):
                rho = i + 1
                break
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def test_hll_registers_match_python(spark, sf_dir):
    """The (bucket, rho) expressions agg_events_by_type folds into its
    per-event-type register statistics, max-reduced per bucket, equal
    the pure-python register twin."""
    p = 10
    ev = load(spark, sf_dir, "events").select("user_id") \
        .filter(F.col("user_id").isNotNull())
    bucket, rho = sketches._hll_bucket_rho_sql("user_id", p)
    got = {r["bucket"]: r["max_rho"] for r in
           ev.selectExpr(f"{bucket} AS bucket", f"{rho} AS rho")
           .groupBy("bucket").agg(F.max("rho").alias("max_rho")).collect()}
    vals = [r["user_id"] for r in ev.collect()]
    assert got == _py_registers(vals, p)


def test_bloom_no_false_negatives_and_merge(spark, sf_dir):
    """Every inserted key probes maybe_present=True (exactness of the
    negative side is the filter's contract); batch merge == full build
    (idempotent OR — self-merge is a no-op); deterministic rebuild."""
    ev = load(spark, sf_dir, "events").select("user_id")
    M, K = 1 << 14, 4
    bloom = sketches.bloom_table(ev, "user_id", m=M, k=K)
    probed = {r["item"]: r["maybe_present"] for r in
              sketches.bloom_contains(
                  bloom, ev.select("user_id").distinct(),
                  "user_id", m=M, k=K).collect()}
    assert probed and all(probed.values())        # no false negatives
    # merge of two disjoint batches == the full filter, bit for bit
    b1 = ev.filter(F.col("user_id") % 2 == 0)
    b2 = ev.filter(F.col("user_id") % 2 == 1)
    merged = sketches.bloom_merge(
        sketches.bloom_table(b1, "user_id", m=M, k=K),
        sketches.bloom_table(b2, "user_id", m=M, k=K))
    full_bits = {r["bit"] for r in bloom.collect()}
    assert {r["bit"] for r in merged.collect()} == full_bits
    # idempotent: self-merge changes nothing (the replay-safety property)
    again = sketches.bloom_merge(bloom, bloom)
    assert {r["bit"] for r in again.collect()} == full_bits
    # deterministic: a rebuild is bit-identical
    rebuilt = {r["bit"] for r in
               sketches.bloom_table(ev, "user_id", m=M, k=K).collect()}
    assert rebuilt == full_bits


def test_bloom_false_positive_rate_near_theory(spark, sf_dir):
    """Probe keys that were NEVER inserted: the observed FPP must sit
    near the textbook (1-e^{-kn/m})^k — within 3x, loose enough for a
    fixture-sized sample, tight enough to catch a broken hash (a
    constant-bucket bug probes ~100% positive)."""
    ev = load(spark, sf_dir, "events").select("user_id").distinct()
    n = ev.count()
    M, K = 1 << 12, 4
    bloom = sketches.bloom_table(ev, "user_id", m=M, k=K)
    absent = ev.sparkSession.range(5_000_000, 5_010_000) \
        .select(F.col("id").alias("user_id"))
    got = sketches.bloom_contains(bloom, absent, "user_id", m=M, k=K)
    fp = got.filter("maybe_present").count() / 10_000
    theory = sketches.bloom_fpp(n, m=M, k=K)
    assert fp <= max(3 * theory, 0.01), (fp, theory)


def _py_qhist_bucket(v, S):
    if v == 0:
        return 0
    e = v.bit_length() - 1
    return (e << S) + ((v - (1 << e)) >> max(e - S, 0)) + 1


def test_qhist_buckets_match_python_twin(spark, sf_dir):
    """r8 late: the quantile histogram is pure integer arithmetic (no
    hash, no RNG), so the WHOLE table is recomputable pure-python —
    bit-for-bit, including values past 2^53 where a floating log2 would
    misbucket. Also pins determinism under repartitioning (the property
    KLL/t-digest lack that justified this design)."""
    S = 7
    ev = load(spark, sf_dir, "events").select("user_id")
    got = {r["bucket"]: r["cnt"] for r in
           sketches.qhist_table(ev, "user_id").collect()}
    want: dict = {}
    for (v,) in ev.collect():
        b = _py_qhist_bucket(int(v), S)
        want[b] = want.get(b, 0) + 1
    assert got == want
    # big-value boundary hazard: bit-exact past 2^53
    big = spark.createDataFrame(
        [((1 << 60) - 1,), ((1 << 60),), ((1 << 62) + 12345,),
         (2**63 - 1,)], "v long")
    got_big = {r["bucket"]: r["cnt"] for r in
               sketches.qhist_table(big, "v").collect()}
    assert got_big == {_py_qhist_bucket(v, S): 1
                       for v in [(1 << 60) - 1, 1 << 60,
                                 (1 << 62) + 12345, 2**63 - 1]}
    # deterministic under repartition: bit-identical rebuild
    re = {r["bucket"]: r["cnt"] for r in
          sketches.qhist_table(ev.repartition(7), "user_id").collect()}
    assert re == got


def test_qhist_quantiles_accuracy_and_merge(spark, sf_dir):
    """Quantile estimates vs exact order statistics: relative error must
    be <= 2^-(sig_bits+1) (values < 2^sig_bits are exact); batch merge ==
    full build cell-for-cell; negative input raises."""
    import pytest
    S = 7
    ev = load(spark, sf_dir, "events").select("user_id")
    qh = sketches.qhist_table(ev, "user_id")
    vals = sorted(int(r["user_id"]) for r in ev.collect())
    n = len(vals)
    probs = [0.1, 0.5, 0.9, 0.99, 1.0]
    got = {r["prob"]: r["value_est"] for r in
           sketches.qhist_quantiles(qh, probs, sig_bits=S).collect()}
    import math as _m
    for p in probs:
        # the rank exactly as the operator defines it: ceil(p*n), >= 1
        true = vals[max(_m.ceil(p * n), 1) - 1]
        if true == 0:
            assert got[p] == 0.0
        else:
            assert abs(got[p] - true) / true <= 2 ** -(S + 1), (p, got[p], true)
    # additive merge: batch tables sum to the full table cell-for-cell
    b1 = ev.filter(F.col("user_id") % 2 == 0)
    b2 = ev.filter(F.col("user_id") % 2 == 1)
    merged = sketches.qhist_merge(
        sketches.qhist_table(b1, "user_id"),
        sketches.qhist_table(b2, "user_id"))
    full = {(r["bucket"], r["cnt"]) for r in qh.collect()}
    assert {(r["bucket"], r["cnt"]) for r in merged.collect()} == full
    # negative values refuse loudly (domain contract)
    neg = spark.createDataFrame([(-1,)], "v long")
    with pytest.raises(Exception, match="negative"):
        sketches.qhist_table(neg, "v").collect()
