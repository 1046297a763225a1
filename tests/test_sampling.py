"""Deterministic mixture sampling + hashed-DSIR statistics."""

import math
from collections import Counter

from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import sampling
from amazon_kinesis_replay_spark.tables import load

_M = 2246822519
_PPM = 1_000_000


def _py_rates(dom_counts, weights, target_frac=0.5):
    """Independent recompute of temperature_mixture_rates at T=2."""
    from decimal import Decimal
    s = {d: math.sqrt(float(weights[d] * n)) for d, n in dom_counts.items()}
    stot = float(sum(Decimal(f"{v:.12f}").quantize(Decimal("1e-12"))
                     for v in s.values()))
    ntot = float(sum(dom_counts.values()))
    out = {}
    for d, n in dom_counts.items():
        rate = min(1.0, (target_frac * ntot) * (s[d] / stot) / float(n))
        out[d] = int(math.floor(rate * _PPM))
    return out


def test_mixture_rates_match_python(spark):
    rows = ([("a", i) for i in range(40)] + [("b", i + 100) for i in range(10)]
            + [("c", i + 200) for i in range(50)])
    df = spark.createDataFrame(
        [(d, i) for d, i in rows], "dom string, id long")
    w = {"a": 1, "b": 4, "c": 2}
    rates = {r["dom"]: r["rate_ppm"]
             for r in sampling.temperature_mixture_rates(
                 df, "dom",
                 weight=lambda c: F.when(c == "a", 1)
                 .when(c == "b", 4).otherwise(2)).collect()}
    expect = _py_rates(Counter(d for d, _ in rows), w)
    assert rates == expect


def test_mixture_sample_verdicts_exact(spark):
    rows = [("a", i) for i in range(30)] + [("b", i + 50) for i in range(20)]
    df = spark.createDataFrame(rows, "dom string, id long")
    out = sampling.mixture_sample(df, "id", "dom")
    got = {r["id"]: (r["mix_rate_ppm"], r["mix_kept"])
           for r in out.collect()}
    rates = _py_rates(Counter(d for d, _ in rows), {"a": 1, "b": 1})
    assert len(got) == 50
    for d, i in rows:
        ppm, kept = got[i]
        assert ppm == rates[d]
        assert kept == ((i * _M) % _PPM < ppm)


def test_hash_ppm_large_ids_no_ansi_overflow(spark):
    """r8 advice item: the bare id*mult product overflows a long (ANSI
    exception) for ids >= ~4.1e9 — exactly a 100 TB corpus's id space.
    The double-pmod form must (a) not raise for any long id and (b) equal
    the true modular product (python bigint recompute)."""
    ids = [0, 1, 4_100_000_000, 2**40 + 7, 2**62 + 12345,
           9_223_372_036_854_775_807]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["ppm"] for r in
           df.selectExpr("id", f"{sampling.hash_ppm_expr('id')} AS ppm")
           .collect()}
    for i in ids:
        assert got[i] == (i * _M) % _PPM, i


def test_deterministic_sample_is_stable(spark, sf_dir):
    """The keep verdict `hash_ppm_expr(id) < rate_ppm` (mixture_sample's
    mix_kept, doc_train_split's bucket) is a uniform deterministic
    subsample: stable under reruns, near its rate, monotone in rate."""
    d = load(spark, sf_dir, "documents")

    def kept(rate):
        return {r["doc_id"] for r in
                d.filter(f"{sampling.hash_ppm_expr('doc_id')} "
                         f"< {int(rate * _PPM)}")
                .select("doc_id").collect()}

    a = kept(0.3)
    b = kept(0.3)
    assert a == b
    n = d.count()
    assert 0.2 * n < len(a) < 0.4 * n
    # monotone in rate: every 30% member is a 50% member
    c = kept(0.5)
    assert a <= c


def test_mixture_fractional_weights_and_null_domain(spark):
    """Review-fix pins: a weight in (0,1) scales the share instead of
    silently zeroing the domain, and NULL-domain rows survive the
    rates join as their own domain."""
    rows = ([("a", i) for i in range(40)]
            + [("b", i + 100) for i in range(40)]
            + [(None, i + 200) for i in range(20)])
    df = spark.createDataFrame(rows, "dom string, id long")
    out = sampling.mixture_sample(
        df, "id", "dom",
        weight=lambda c: F.when(c == "a", 0.25).otherwise(F.lit(1.0)))
    got = {r["id"]: (r["dom"], r["mix_rate_ppm"]) for r in out.collect()}
    assert len(got) == 100                      # NULL-domain rows kept
    rate_a = got[0][1]
    rate_b = got[100][1]
    assert 0 < rate_a < rate_b                  # 0.25 weight: smaller, not 0
    # expected ratio sqrt(0.25*40)/sqrt(1*40) = 0.5 (same n per domain)
    assert abs(rate_a / rate_b - 0.5) < 0.01
    assert got[200][0] is None                  # null domain, own rate


def _py_hb_buckets(t, m):
    """Twin of sampling._hashed_gram_buckets: tokens = split(trim(lower)),
    trim strips SPACES only (both engines); bucket = signed pmod."""
    import re
    from amazon_kinesis_replay_spark.functions.xxh import xxh64_string
    ws = re.split(r"\s+", t.lower().strip(" "))
    grams = list(ws) + [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
    out = []
    for g in grams:
        v = xxh64_string(g) & ((1 << 64) - 1)
        if v >= 1 << 63:
            v -= 1 << 64
        out.append(v % m)
    return out


def test_dsir_hashed_buckets_match_python(spark):
    """late r8: the paper's hashed uni+bigram feature map — every
    (id, bucket, cnt) cell recomputed pure-python via the xxh64 twin
    with SIGNED-pmod semantics (m = 10000 is no divisor of 2^64, so an
    unsigned % would diverge); whitespace edge cases included. Model
    merge is cell-wise additive (batch build == full build)."""
    M = sampling.DSIR_BUCKETS
    docs = [(0, "the cat sat on the mat"), (1, "a dog  ran"),
            (2, "single"), (3, "\tleading and trailing\n"),
            (4, "the cat ran fast today")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["bucket"]): r["cnt"] for r in
           sampling.dsir_hashed_counts(df, "text",
                                       id_col="doc_id").collect()}
    want = {}
    for did, t in docs:
        for b in _py_hb_buckets(t, M):
            want[(did, b)] = want.get((did, b), 0) + 1
    assert got == want
    # corpus model: batch merge == full build cell-for-cell
    full = {(r["bucket"], r["cnt"]) for r in
            sampling.dsir_hashed_counts(df, "text").collect()}
    b1 = sampling.dsir_hashed_counts(
        df.filter(F.col("doc_id") < 2), "text")
    b2 = sampling.dsir_hashed_counts(
        df.filter(F.col("doc_id") >= 2), "text")
    merged = (b1.unionByName(b2).groupBy("bucket")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    assert {(r["bucket"], r["cnt"]) for r in merged.collect()} == full


def test_dsir_hashed_stats_match_python(spark):
    """The exact-integer sufficient statistics (the doc_pii_redact gate
    columns) match an independent python recompute."""
    M = sampling.DSIR_BUCKETS
    docs = [(i, t) for i, t in enumerate(
        ["the cat sat on the mat", "a dog ran", "single token run",
         "the mat sat", "cat and dog and cat", "zz yy xx"])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    target = sampling.dsir_hashed_counts(
        df.filter(F.col("doc_id") % 2 == 0), "text")
    raw = sampling.dsir_hashed_counts(df, "text")
    tmod, rmod = {}, {}
    for did, t in docs:
        for b in _py_hb_buckets(t, M):
            rmod[b] = rmod.get(b, 0) + 1
            if did % 2 == 0:
                tmod[b] = tmod.get(b, 0) + 1
    st = {r["doc_id"]: (r["hb_grams"], r["hb_t_sum"], r["hb_r_sum"])
          for r in sampling.dsir_hashed_stats(
              df, "doc_id", "text", target, raw).collect()}
    for did, t in docs:
        c = Counter(_py_hb_buckets(t, M))
        assert st[did] == (
            sum(c.values()),
            sum(n * tmod.get(b, 0) for b, n in c.items()),
            sum(n * rmod.get(b, 0) for b, n in c.items())), did
