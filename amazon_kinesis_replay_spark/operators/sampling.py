"""Deterministic corpus-sampling operators for training-data mixtures.

Temperature-weighted domain mixture sampling (the multilingual-LM
standard: sampled share q_d proportional to (weight x size)^(1/T)),
deterministic hash subsampling (no RNG state — reruns and engines
agree), and the exact-integer statistics of hashed-n-gram DSIR (Xie et
al. 2023, "Data Selection for Language Models via Importance
Resampling") that doc_pii_redact gates.

Everything is DataFrame ops: per-domain rates come from one map-side
combinable groupBy over a domain column (metadata-scale result,
broadcast back), membership tests are pure column arithmetic on a
multiplicative hash of the id, and the DSIR statistics are two
broadcast joins against at-most-m-row bucket models. Nothing is
collected onto the driver.

Cross-engine exactness (the oracle-gate discipline of this repo): at
temperature=2.0 the whole rate computation uses only correctly-rounded
IEEE double ops (sqrt / multiply / divide) plus one decimal-summed
total, so DuckDB reproduces the kept-set bit-for-bit; other
temperatures go through pow(), which libm implementations round
differently — fine for production, not for hash gates (documented on
the function).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Multiplier for the sampling hash — a different odd constant than the
#: split hash (2654435761, registry q_doc_train_split) so "which split"
#: and "sampled?" are not correlated through a shared residue chain.
_SAMPLE_MULT = 2246822519

#: Quantization of sampling rates: membership is `hash mod 1e6 < ppm`,
#: so rates resolve to parts-per-million — coarse enough that a 1-ulp
#: rate difference would have to land exactly on a floor boundary to
#: matter, and at T=2 there is no ulp difference at all.
_PPM = 1_000_000


def hash_ppm_expr(id_sql: str) -> str:
    """Deterministic uniform-ish value in [0, 1e6) from an integer id —
    multiplicative hashing, the same family as the train/valid/test
    split bucket. Pure arithmetic, no RNG; the multiplier parses as
    BIGINT, 1000000 as INT.

    Overflow-safe for the FULL long id range (r8 advice item): the
    double-pmod identity (id*M) % 1e6 == ((id%1e6)*M) % 1e6 keeps the
    product <= ~2.2e15 — the bare product throws an ANSI overflow for
    ids >= ~4.1e9, exactly the id spaces a 100 TB corpus has. Values
    are unchanged wherever the old form didn't overflow; the
    doc_train_split oracle SQL mirrors the same rewrite."""
    return (f"pmod(pmod(CAST({id_sql} AS BIGINT), {_PPM}) "
            f"* {_SAMPLE_MULT}, {_PPM})")


def temperature_mixture_rates(df: DataFrame, domain_col: str,
                              weight) -> DataFrame:
    """Per-domain sampling rates for temperature mixture sampling at
    temperature T=2 and target_frac 0.5 of the corpus:

    q_d  ∝  (w_d * n_d)^(1/T)          (sampled share of domain d)
    rate_d = min(1, target_frac * N * q_d / n_d)

    returned quantized: (domain, n_docs, rate_ppm). `weight` is a
    callable Column -> Column evaluated on the domain value (a plan
    literal / pure function — e.g. a CASE over domain names), or None
    for weight 1.

    T=2 evaluates as sqrt(w*n) — sqrt, multiply and divide are
    correctly-rounded IEEE ops, and the cross-domain total sums
    floor-quantized longs (r10, replacing the mirrored decimal cast —
    see similarity._Q_SCALE: Spark and DuckDB disagreed on
    shortest-repr midpoint ties; floor(v*1e12+0.5) is pure IEEE and
    identical in both) in a decimal(38,0) accumulator, so an oracle
    SQL engine computes the identical rate_ppm. (Any other T would
    need pow(), which is NOT bit-portable across engines.)

    Scale shape: one map-side-combinable count per domain (the result
    is domain-cardinality — metadata), cross-domain totals via an
    unpartitioned window over that tiny frame. The corpus is scanned
    once and never shuffled on rows.
    """
    w = weight(F.col(domain_col)) if weight is not None else F.lit(1)
    # double, NOT long: a fractional weight (0.5, 2.9) must scale the
    # share, not silently truncate — a weight in (0,1) cast to long
    # would zero the domain out of the sample entirely (review
    # finding). Integer-valued weights stay exact in double, so the
    # T=2 cross-engine bit-match is unchanged.
    counts = (df.groupBy(domain_col)
              .agg(F.expr("count(*) AS n_docs"))
              .withColumn("__w", w.cast("double")))
    # r13: the rate pipeline below is composed as SQL strings (one
    # selectExpr) — the withColumn chain paid ~500 py4j round trips of
    # construction latency per composed-query build; ops and literal
    # types are unchanged (sqrt/multiply/divide doubles, the
    # floor-quantized decimal(38,0) window total), so rate_ppm is
    # bit-identical (doc_train_split's oracle gate pins it).
    s = "sqrt(__w * CAST(n_docs AS DOUBLE))"
    # cross-domain totals as an UNPARTITIONED window over the counts
    # frame — acceptable precisely because this frame is
    # domain-cardinality (metadata), and it keeps a (harmless but
    # plan-pin-tripping) broadcast-nested-loop totals join out of every
    # composed query's physical plan. The decimal window-sum is the
    # same exact order-independent total the agg form computed.
    stot = ("(CAST(sum(CAST(floor(__s * 1.0E12D + 0.5D) "
            "AS decimal(38,0))) OVER () AS DOUBLE) / 1.0E12D)")
    rate = ("least(1.0D, (0.5D "
            f"* CAST(sum(n_docs) OVER () AS DOUBLE)) "
            f"* (__s / {stot}) / CAST(n_docs AS DOUBLE))")
    return (counts.selectExpr("*", f"{s} AS __s")
            .selectExpr(domain_col, "n_docs",
                        f"CAST(floor({rate} * {float(_PPM)!r}D) AS BIGINT) "
                        "AS rate_ppm"))


def mixture_sample(df: DataFrame, id_col: str, domain_col: str,
                   weight=None) -> DataFrame:
    """Tag every row with its domain's temperature-mixture rate and the
    deterministic keep verdict: adds (mix_rate_ppm, mix_kept). Filter
    on mix_kept for the sampled corpus; keeping the verdict as a column
    (instead of filtering here) lets one pass feed both the sample and
    its audit (per-domain kept counts vs target shares).

    The rates table is domain-cardinality — broadcast; the corpus scan
    stays pipeline-local (no shuffle of data rows).
    """
    rates = temperature_mixture_rates(df, domain_col, weight)
    r = rates.select(F.col(domain_col).alias("__dom"), "rate_ppm")
    # NULL-SAFE join: a NULL domain is a real domain — groupBy gave it
    # a rates row, and an inner equi-join would silently drop its docs
    # while still counting them in the total, inflating every other
    # domain's rate (review finding)
    return (df.join(F.broadcast(r),
                    F.col(domain_col).eqNullSafe(F.col("__dom")))
            .selectExpr(*df.columns,
                        "rate_ppm AS mix_rate_ppm",
                        f"({hash_ppm_expr(id_col)} < rate_ppm) "
                        "AS mix_kept"))


# --------------------------------------------------------------------------
# DSIR — hashed-n-gram sufficient statistics
# --------------------------------------------------------------------------


#: Bucket count m of the DSIR hashed-n-gram feature map.
DSIR_BUCKETS = 10_000


def _hashed_gram_buckets(text_col: str) -> Column:
    """array<long> of hashed word-n-gram bucket ids — the DSIR paper's
    feature map (Xie et al. 2023, §2.2: hashed unigram+bigram counts
    into m = DSIR_BUCKETS buckets). Gram string = the n words
    space-joined; bucket = pmod(xxhash64(gram), m). Pure column
    expression (whole-stage codegen); the python twin is the SIGNED interpretation of
    xxh64_string(gram) taken % m (python % is already a positive mod),
    which is what makes the bucket geometry hash-gateable."""
    from . import text as _text
    arrs = []
    for n in (1, 2):
        grams = _text._word_ngrams(text_col, n)
        if n == 1:
            # branch on n, NOT on context == '': an n>1 gram whose first
            # word is the empty token also has an empty context, and
            # collapsing it to the bare token would alias it with the
            # unigram (caught by the twin test on whitespace-edge docs)
            arrs.append(F.transform(grams, lambda g: g["token"]))
        else:
            arrs.append(F.transform(
                grams,
                lambda g: F.concat(g["context"], F.lit(" "), g["token"])))
    return F.transform(F.concat(*arrs),
                       lambda s: F.pmod(F.xxhash64(s), F.lit(DSIR_BUCKETS)))


def dsir_hashed_counts(df: DataFrame, text_col: str,
                       id_col: str | None = None) -> DataFrame:
    """Hashed-n-gram bucket counts: (bucket, cnt) over a corpus, or
    (id, bucket, cnt) per document when id_col is given. The CORPUS form
    IS the DSIR bag-of-hashed-ngrams model — train the target and raw
    models by calling this on each corpus. Mergeable by cell-wise sum
    (additive, not idempotent), so daily crawls fold without
    re-scanning history. One explode + one map-side-combinable groupBy;
    the corpus model is at most DSIR_BUCKETS rows regardless of input."""
    cols = ([F.col(id_col)] if id_col else []) + [
        F.explode(_hashed_gram_buckets(text_col))
        .alias("bucket")]
    keys = ([id_col] if id_col else []) + ["bucket"]
    return (df.select(*cols).groupBy(*keys)
            .agg(F.count("*").cast("long").alias("cnt")))


def dsir_hashed_stats(df: DataFrame, id_col: str, text_col: str,
                      target_counts: DataFrame,
                      raw_counts: DataFrame) -> DataFrame:
    """EXACT-INTEGER sufficient statistics of each document against two
    hashed-bucket models: (id, hb_grams, hb_t_sum, hb_r_sum) — total
    hashed grams, and the doc-count-weighted sums of the target/raw
    model bucket counts (sum_b c_b(doc) * model_cnt(b)). The DSIR float
    log-ratio would be built from exactly these joins; gating the
    integers pins the whole bucket geometry + hash while keeping libm
    logs out of the gate."""
    per = dsir_hashed_counts(df, text_col, id_col=id_col)
    t = target_counts.select("bucket", F.col("cnt").alias("__tc"))
    r = raw_counts.select("bucket", F.col("cnt").alias("__rc"))
    agg = (per.join(t, "bucket", "left").join(r, "bucket", "left")
           .groupBy(id_col)
           .agg(F.sum("cnt").cast("long").alias("hb_grams"),
                F.coalesce(F.sum(F.col("cnt") * F.col("__tc")), F.lit(0))
                .cast("long").alias("hb_t_sum"),
                F.coalesce(F.sum(F.col("cnt") * F.col("__rc")), F.lit(0))
                .cast("long").alias("hb_r_sum")))
    return (df.select(F.col(id_col)).distinct()
            .join(agg, id_col, "left")
            .select(id_col,
                    *[F.coalesce(c, F.lit(0)).cast("long").alias(c)
                      for c in ("hb_grams", "hb_t_sum", "hb_r_sum")]))
