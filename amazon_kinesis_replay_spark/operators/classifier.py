"""Distributed-trained linear quality classifier (fastText-style).

The curation stacks behind public LLM corpora (LLaMA, GPT-3, Falcon)
gate documents with a small linear classifier over bag-of-words
features ("looks like Wikipedia/books" vs "random crawl"). This module
provides that capability Spark-first:

- `hashed_features`: the hashing trick — tokens hash into a fixed
  dimensionality with xxhash64 (JVM-side, collision-tolerant by
  design), binary presence per (doc, index). No vocabulary object, no
  driver state, merge-free across corpora.
- `logreg_train`: full-batch logistic-regression gradient descent with
  the aggregate-then-fit shape of the k-means trainer
  (similarity.kmeans_centroids): each iteration is ONE distributed pass
  computing the per-dimension gradient as a map-side-combinable
  aggregation; only the dim-sized gradient vector (metadata scale)
  reaches the driver. Deterministic: zero init, fixed iterations, no
  sampling, no RNG.
- `logreg_score`: broadcast the weight vector back as a tiny table and
  score every document in one join + aggregate.

The per-iteration plan: features (persisted once) ⨝ broadcast weights
→ per-doc margin (groupBy id, sum) → sigmoid residual → features ⨝
residuals → per-index gradient (groupBy idx, sum). Two shuffles per
iteration, both on compact keys; the corpus is never collected.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_expr


def hashed_features(df: DataFrame, id_col: str, text_col: str,
                    dim: int = 1024) -> DataFrame:
    """Binary hashed bag-of-words: (id, idx) rows, one per DISTINCT
    token hash bucket per document — idx = xxhash64(token) mod dim.
    Binary presence (not counts) keeps margins bounded without
    normalization passes; collisions are part of the hashing-trick
    contract (they cost accuracy, never correctness of the pipeline).
    """
    return (df.selectExpr(f"{id_col} AS id",
                          f"explode(array_distinct({tokens_expr(text_col)}))"
                          " AS __t")
            .select("id", F.pmod(F.xxhash64("__t"), F.lit(dim))
                    .alias("idx"))
            .distinct())


def _with_bias(feats: DataFrame, df: DataFrame, id_col: str,
               dim: int) -> DataFrame:
    """Append the synthetic bias feature (idx = dim) to EVERY document —
    so the bias rides the same join/aggregate as the real features: the
    margin needs no separate add, the bias gradient needs no separate
    action, and feature-less documents still reach the margin join
    (keeping train and score consistent on them)."""
    bias_rows = df.select(F.col(id_col).alias("id"),
                          F.lit(dim).cast("long").alias("idx"))
    return feats.unionByName(bias_rows)


def _margin(feats_b: DataFrame, weights: list[float]) -> DataFrame:
    """Per-doc linear margin under the current weights over a
    bias-augmented feature table: broadcast the (dim+1)-row weight
    table, one join + per-doc sum (weights[-1] = bias = idx dim)."""
    spark = feats_b.sparkSession
    w_df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)],
        "idx long, w double")
    return (feats_b.join(F.broadcast(w_df), "idx")
            .groupBy("id")
            .agg(F.sum("w").alias("margin")))


def logreg_train(df: DataFrame, id_col: str, text_col: str,
                 label_col: str, dim: int = 256, n_iters: int = 30,
                 lr: float | None = None, l2: float = 0.0) -> list[float]:
    """Train logistic regression over hashed features by full-batch
    gradient descent. Returns dim+1 weights (bias last) — a plain
    Python list, because the MODEL is metadata-scale; the DATA never
    leaves the cluster. Labels must be 0/1.

    lr=None (default) sets the step to 4/max(||x||^2) (the feature
    count including the synthetic bias feature) — the inverse of the
    logistic loss's gradient-Lipschitz bound L <= max||x||^2 / 4 for
    binary features. A fixed lr=1.0 DIVERGES once documents carry tens
    of active features (observed on the fixture: oscillation that
    parks every probability near 0); the bound-derived step is stable
    for any corpus and stays deterministic (max is an exact aggregate).

    The bias is a synthetic always-on feature (idx = dim), so each
    iteration is ONE Spark action (margin join -> residual -> one
    per-index gradient aggregate that includes the bias row); the only
    driver traffic is the dim-sized gradient (same contract as the
    k-means centroid table). Deterministic by construction: zero init,
    fixed iteration count, no sampling — reruns give bit-comparable
    models up to float-sum ordering inside Spark aggregates.
    """
    feats = _with_bias(hashed_features(df, id_col, text_col, dim),
                       df, id_col, dim).persist()
    labels = df.select(F.col(id_col).alias("id"),
                       F.col(label_col).cast("double").alias("y"))
    n = labels.count()
    if lr is None:
        # count INCLUDES the synthetic bias feature, so this is
        # max(||x||^2) directly — no +1 needed
        max_nnz = int(feats.groupBy("id").count()
                      .agg(F.max("count")).head()[0] or 1)
        lr = 4.0 / max_nnz
    w = [0.0] * (dim + 1)
    for _ in range(n_iters):
        m = _margin(feats, w)
        # every doc carries the bias feature, so margin is never NULL
        resid = (labels.join(m, "id")
                 .select("id",
                         (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
                          - F.col("y")).alias("r")))
        # ONE action per iteration: the bias gradient is just the
        # idx=dim row of the same aggregate
        g_rows = (feats.join(resid, "id")
                  .groupBy("idx").agg(F.sum("r").alias("g"))
                  .collect())
        g = {int(r["idx"]): float(r["g"]) for r in g_rows}
        for j in range(dim):
            w[j] -= lr * ((g.get(j, 0.0) / n) + l2 * w[j])
        w[dim] -= lr * (g.get(dim, 0.0) / n)
    feats.unpersist()
    return w


def _softplus_minus_y_margin() -> "F.Column":
    """Stable per-doc logistic loss term log(1+e^margin) - y*margin
    (softplus form: the naive log(1+exp(m)) overflows for |m| ~ 700)."""
    m = F.col("margin")
    softplus = F.when(m > 0, m + F.log1p(F.exp(-m))).otherwise(
        F.log1p(F.exp(m)))
    return softplus - F.col("y") * m


def _logreg_loss(feats, labels, w, n, l2, dim) -> float:
    """Mean logistic loss + l2/2*||w||^2 (bias excluded from l2, like
    the GD update): one margin join + one scalar aggregate."""
    row = (labels.join(_margin(feats, w), "id")
           .agg(F.sum(_softplus_minus_y_margin()).alias("s")).head())
    reg = 0.5 * l2 * sum(wj * wj for wj in w[:dim])
    return float(row["s"] or 0.0) / n + reg


def _logreg_grad(feats, labels, w, n, l2, dim) -> list[float]:
    """Full-batch gradient: the same margin -> residual -> per-index
    aggregate as logreg_train; only the (dim+1)-sized vector reaches
    the driver."""
    m = _margin(feats, w)
    resid = (labels.join(m, "id")
             .select("id",
                     (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
                      - F.col("y")).alias("r")))
    g_rows = (feats.join(resid, "id")
              .groupBy("idx").agg(F.sum("r").alias("g")).collect())
    g = {int(r["idx"]): float(r["g"]) for r in g_rows}
    out = [(g.get(j, 0.0) / n) + l2 * w[j] for j in range(dim)]
    out.append(g.get(dim, 0.0) / n)
    return out


def _lbfgs_direction(grad, hist):
    """Two-loop recursion over the m most recent (s, y, rho) triples —
    pure driver math on dim-sized lists, O(m*dim) per iteration."""
    q = list(grad)
    alphas = []
    for s, y, rho in reversed(hist):
        a = rho * sum(si * qi for si, qi in zip(s, q))
        alphas.append(a)
        q = [qi - a * yi for qi, yi in zip(q, y)]
    if hist:
        s, y, _rho = hist[-1]
        gamma = (sum(si * yi for si, yi in zip(s, y))
                 / sum(yi * yi for yi in y))
        q = [gamma * qi for qi in q]
    for (s, y, rho), a in zip(hist, reversed(alphas)):
        b = rho * sum(yi * qi for yi, qi in zip(y, q))
        q = [qi + (a - b) * si for qi, si in zip(q, s)]
    return [-qi for qi in q]


def logreg_train_lbfgs(df: DataFrame, id_col: str, text_col: str,
                       label_col: str, dim: int = 256,
                       n_iters: int = 10, m: int = 5,
                       l2: float = 0.0,
                       max_backtracks: int = 5) -> list[float]:
    """L-BFGS upgrade of `logreg_train` (the ROADMAP item): curvature-
    aware steps reach in ~10 passes the fit 30 full-batch GD passes
    give — the pass count, not per-pass cost, is what hurts when one
    pass scans 100 TB.

    Distribution contract is identical to GD: per iteration ONE
    gradient pass (margin join -> residual -> per-index aggregate) plus
    1..max_backtracks loss passes for the Armijo backtracking line
    search (each a margin join + scalar aggregate); the two-loop
    recursion and the (s, y) history live on the driver at
    O(m*dim) — metadata scale, like the GD gradient. Deterministic:
    zero init, fixed iteration count, no sampling, deterministic
    backtracking; `py_reference_lbfgs` is the driver-only twin tests
    pin the arithmetic against. Curvature pairs with s·y <= 1e-12 are
    skipped (the standard positive-definiteness guard); the first
    step (no history yet) falls back to the GD bound-derived rate."""
    feats = _with_bias(hashed_features(df, id_col, text_col, dim),
                       df, id_col, dim).persist()
    labels = df.select(F.col(id_col).alias("id"),
                       F.col(label_col).cast("double").alias("y"))
    n = labels.count()
    max_nnz = int(feats.groupBy("id").count()
                  .agg(F.max("count")).head()[0] or 1)
    lr0 = 4.0 / max_nnz
    w = [0.0] * (dim + 1)
    grad = _logreg_grad(feats, labels, w, n, l2, dim)
    loss = _logreg_loss(feats, labels, w, n, l2, dim)
    hist: list = []
    for _ in range(n_iters):
        d = _lbfgs_direction(grad, hist)
        if not hist:
            d = [lr0 * di for di in d]
        gd = sum(gi * di for gi, di in zip(grad, d))
        if gd >= 0:                      # not a descent direction:
            d = [-lr0 * gi for gi in grad]   # reset to steepest descent
            gd = sum(gi * di for gi, di in zip(grad, d))
        t = 1.0
        for _bt in range(max_backtracks):
            w_try = [wj + t * dj for wj, dj in zip(w, d)]
            loss_try = _logreg_loss(feats, labels, w_try, n, l2, dim)
            if loss_try <= loss + 1e-4 * t * gd:
                break
            t *= 0.5
        grad_new = _logreg_grad(feats, labels, w_try, n, l2, dim)
        s = [t * dj for dj in d]
        y = [gn - go for gn, go in zip(grad_new, grad)]
        sy = sum(si * yi for si, yi in zip(s, y))
        if sy > 1e-12:
            hist.append((s, y, 1.0 / sy))
            if len(hist) > m:
                hist.pop(0)
        w, grad, loss = w_try, grad_new, loss_try
    feats.unpersist()
    return w


def py_reference_lbfgs(rows, dim: int = 256, n_iters: int = 10,
                       m: int = 5, l2: float = 0.0,
                       max_backtracks: int = 5) -> list[float]:
    """Driver-only twin of logreg_train_lbfgs over (text, label)
    tuples — same features, same loss/gradient, same two-loop and
    backtracking rules; tests pin the distributed trainer against it
    (tolerance-level: Spark's float-sum ordering differs per run)."""
    from ..functions.xxh import tokens_spark, xxh64_string
    docs = []
    for t, yv in rows:
        toks = tokens_spark(t)             # exact Spark-tokenizer twin
        idxs = sorted({xxh64_string(tok) % dim for tok in toks})
        docs.append((idxs, float(yv)))
    n = len(docs)
    lr0 = 4.0 / (max(len(i) for i, _y in docs) + 1)

    def margin(wv, idxs):
        return sum(wv[j] for j in idxs) + wv[dim]

    def loss_of(wv):
        tot = 0.0
        for idxs, yv in docs:
            mg = margin(wv, idxs)
            sp = mg + math.log1p(math.exp(-mg)) if mg > 0 \
                else math.log1p(math.exp(mg))
            tot += sp - yv * mg
        return tot / n + 0.5 * l2 * sum(x * x for x in wv[:dim])

    def grad_of(wv):
        g = [0.0] * (dim + 1)
        for idxs, yv in docs:
            r = 1.0 / (1.0 + math.exp(-margin(wv, idxs))) - yv
            for j in idxs:
                g[j] += r
            g[dim] += r
        out = [(g[j] / n) + l2 * wv[j] for j in range(dim)]
        out.append(g[dim] / n)
        return out

    w = [0.0] * (dim + 1)
    grad = grad_of(w)
    loss = loss_of(w)
    hist: list = []
    for _ in range(n_iters):
        d = _lbfgs_direction(grad, hist)
        if not hist:
            d = [lr0 * di for di in d]
        gd = sum(gi * di for gi, di in zip(grad, d))
        if gd >= 0:
            d = [-lr0 * gi for gi in grad]
            gd = sum(gi * di for gi, di in zip(grad, d))
        t = 1.0
        for _bt in range(max_backtracks):
            w_try = [wj + t * dj for wj, dj in zip(w, d)]
            loss_try = loss_of(w_try)
            if loss_try <= loss + 1e-4 * t * gd:
                break
            t *= 0.5
        grad_new = grad_of(w_try)
        s = [t * dj for dj in d]
        y = [gn - go for gn, go in zip(grad_new, grad)]
        sy = sum(si * yi for si, yi in zip(s, y))
        if sy > 1e-12:
            hist.append((s, y, 1.0 / sy))
            if len(hist) > m:
                hist.pop(0)
        w, grad, loss = w_try, grad_new, loss_try
    return w


def logreg_score(df: DataFrame, id_col: str, text_col: str,
                 weights: list[float], dim: int | None = None) -> DataFrame:
    """Score documents under a trained model: (id, margin, prob).
    Broadcast weight table + one join/aggregate; docs with no active
    feature get the bias alone (LEFT join, margin = bias)."""
    dim = dim if dim is not None else len(weights) - 1
    feats = _with_bias(hashed_features(df, id_col, text_col, dim),
                       df, id_col, dim)
    m = _margin(feats, weights)
    return (df.select(F.col(id_col).alias("id"))
            .join(m, "id")     # bias feature: every doc has a margin
            .select("id", "margin",
                    (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
                    .alias("prob")))


def threshold_keep_frac(scores: DataFrame, keep_frac: float,
                        prob_col: str = "prob",
                        sig_bits: int = 16) -> float:
    """Calibrated score threshold keeping ~keep_frac of the corpus:
    keep rows with prob >= the returned value. Computed through the
    deterministic quantile histogram (operators/sketches.qhist_table)
    over ppm-scaled scores — one map-side-combinable groupBy, never a
    corpus sort or a large TakeOrdered — taking the LOWER bound of the
    bucket at rank ceil((1-keep_frac)*n), so the kept set is AT LEAST
    the target fraction (bucket granularity only ever keeps more).
    At sig_bits=16, ppm values below 65536 are exact and larger ones
    carry <= 2^-17 relative slack. Deterministic across runs and
    partitionings (the property approx_percentile lacks)."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    from . import sketches
    ppm = scores.select(
        (F.col(prob_col) * F.lit(1_000_000)).cast("long").alias("__ppm"))
    qh = sketches.qhist_table(ppm, "__ppm", sig_bits=sig_bits)
    row = sketches.qhist_quantiles(
        qh, [1.0 - keep_frac], sig_bits=sig_bits, point="lower").head()
    return float(row["value_est"]) / 1_000_000.0


def threshold_for_precision(scored: DataFrame, label_col: str,
                            min_precision: float,
                            prob_col: str = "prob") -> float | None:
    """Smallest score threshold whose keep-set precision (mean positive
    label among rows with prob >= t) reaches min_precision, computed on
    a LABELED validation frame: cumulative precision over the
    descending-prob prefix, t = the lowest prob of any qualifying
    prefix. Returns None when no prefix qualifies. The unpartitioned
    window is sanctioned here because validation sets are bounded by
    construction (labels are hand- or heuristic-assigned, not
    corpus-scale) — do NOT call this on the full corpus.

    Ties are aggregated BEFORE the cumulative walk (self-review fix): a
    keep set prob >= t always contains whole tie groups, so a per-row
    prefix that split a tie group would report a precision the
    threshold cannot realize — and make the result depend on intra-tie
    row order. Grouping first is both deterministic and exact."""
    from pyspark.sql import Window
    by_p = (scored.groupBy(F.col(prob_col).alias("__p"))
            .agg(F.sum(F.col(label_col).cast("double")).alias("__pos"),
                 F.count("*").alias("__cnt")))
    w = (Window.orderBy(F.col("__p").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = by_p.select(
        "__p",
        F.sum("__pos").over(w).alias("__cpos"),
        F.sum("__cnt").over(w).alias("__cn"))
    row = (cum.filter(F.col("__cpos") / F.col("__cn")
                      >= F.lit(float(min_precision)))
           .agg(F.min("__p").alias("t")).head())
    return None if row is None or row["t"] is None else float(row["t"])


def threshold_margin_midpoint(scored: DataFrame, label_col: str,
                              prob_col: str = "prob",
                              eps: float = 1e-12) -> float | None:
    """Max-margin threshold from a labeled validation frame: the
    LOGIT-space midpoint between the highest negative-label prob and
    the lowest positive-label prob. Returns None unless the labels are
    strictly separated (max neg < min pos) — a separated validation set
    is exactly the regime where prefix-precision calibration
    (`threshold_for_precision`) degenerates: EVERY threshold inside the
    gap scores the same on the labels, and the max-recall rule then
    picks the gap's aggressive edge (just under the lowest positive),
    dragging every unlabeled mid-confidence row into the drop set. The
    midpoint is the unique choice equidistant (in log-odds, the model's
    native space) from both observed clusters. One tiny aggregate; eps
    clamps saturated probs so logit stays finite."""
    import math
    row = (scored.agg(
        F.max(F.when(F.col(label_col) == 0, F.col(prob_col))).alias("lo"),
        F.min(F.when(F.col(label_col) == 1, F.col(prob_col))).alias("hi"))
        .head())
    if row is None or row["lo"] is None or row["hi"] is None:
        return None
    lo, hi = float(row["lo"]), float(row["hi"])
    if not lo < hi:
        return None                      # overlapping labels: no margin

    def _logit(p: float) -> float:
        p = min(max(p, eps), 1.0 - eps)
        return math.log(p / (1.0 - p))

    mid = (_logit(lo) + _logit(hi)) / 2.0
    return 1.0 / (1.0 + math.exp(-mid))


def py_reference_train(rows, dim: int = 256, n_iters: int = 30,
                       lr: float | None = None,
                       l2: float = 0.0) -> list[float]:
    """Driver-only reference twin of logreg_train over (text, label)
    tuples — same features (via the pure-Python xxh64 that matches
    Spark's xxhash64), same update rule and auto step size; used by
    tests to pin the distributed trainer's arithmetic."""
    from ..functions.xxh import tokens_spark, xxh64_string
    docs = []
    for t, y in rows:
        # tokens_spark is the EXACT twin of split(trim(lower), \s+):
        # space-only trim (F.trim never strips \t/\n) and Java's
        # ASCII-only \s — an ad-hoc t.strip() + python \s re-split
        # silently diverges on tab/newline-edged docs (the same class
        # the DSIR twin review caught)
        toks = tokens_spark(t)
        idxs = {xxh64_string(tok) % dim for tok in toks}
        docs.append((sorted(idxs), float(y)))
    n = len(docs)
    if lr is None:
        lr = 4.0 / (max(len(i) for i, _y in docs) + 1)   # +1 = bias
    w = [0.0] * (dim + 1)
    for _ in range(n_iters):
        g = [0.0] * (dim + 1)
        for idxs, y in docs:
            mg = sum(w[j] for j in idxs) + w[dim]
            r = 1.0 / (1.0 + math.exp(-mg)) - y
            for j in idxs:
                g[j] += r
            g[dim] += r
        for j in range(dim):
            w[j] -= lr * ((g[j] / n) + l2 * w[j])
        w[dim] -= lr * (g[dim] / n)
    return w


def logreg_train_minibatch(df: DataFrame, id_col: str, text_col: str,
                           label_col: str, dim: int = 256,
                           n_iters: int = 24, n_buckets: int = 4,
                           lr: float | None = None, l2: float = 0.0,
                           seed: int = 0) -> list[float]:
    """Mini-batch logistic GD with DETERMINISTIC hash-assigned batches
    (the ROADMAP mini-batch carry): document -> bucket =
    pmod(xxhash64(seed, id), n_buckets); iteration t trains on bucket
    t % n_buckets only. Cycling disjoint buckets is epoch-based
    mini-batching with zero RNG state — reruns give bit-comparable
    models (same contract as the other trainers), and the bucket
    geometry is twin-computable (xxh64_long chain, signed pmod), so
    tests can pin the arithmetic exactly.

    Why this exists next to full-batch GD and L-BFGS: those two pay
    n_iters FULL corpus passes; here each iteration's join/aggregate
    mass is ~1/n_buckets of the corpus, so an epoch (n_buckets
    iterations) costs ONE full pass of shuffle work while taking
    n_buckets gradient steps. At 100 TB, persist the feature table
    hive-partitioned by this same bucket column
    (df.write.partitionBy("bucket")) and each iteration's scan prunes
    at FILE LISTING — the scan, not just the shuffle, is ∝ 1/n_buckets.
    lr defaults to the same Lipschitz-bound step as `logreg_train`
    (global max||x||^2 — a per-batch bound would make the step depend
    on batch composition)."""
    bucket = F.pmod(F.xxhash64(F.lit(int(seed)).cast("long"),
                               F.col(id_col)),
                    F.lit(int(n_buckets))).cast("int").alias("bucket")
    labels = df.select(F.col(id_col).alias("id"),
                       F.col(label_col).cast("double").alias("y"),
                       bucket).persist()
    feats = _with_bias(hashed_features(df, id_col, text_col, dim),
                       df, id_col, dim) \
        .join(labels.select("id", "bucket"), "id").persist()
    counts = {int(r["bucket"]): int(r["count"])
              for r in labels.groupBy("bucket").count().collect()}
    if lr is None:
        max_nnz = int(feats.groupBy("id").count()
                      .agg(F.max("count")).head()[0] or 1)
        lr = 4.0 / max_nnz
    w = [0.0] * (dim + 1)
    for t in range(n_iters):
        b = t % n_buckets
        n_b = counts.get(b, 0)
        if n_b == 0:
            continue            # empty bucket: skip, don't div-by-zero
        f_t = feats.filter(F.col("bucket") == b)
        m = _margin(f_t, w)
        resid = (labels.filter(F.col("bucket") == b).join(m, "id")
                 .select("id",
                         (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
                          - F.col("y")).alias("r")))
        g_rows = (f_t.join(resid, "id")
                  .groupBy("idx").agg(F.sum("r").alias("g"))
                  .collect())
        g = {int(r["idx"]): float(r["g"]) for r in g_rows}
        for j in range(dim):
            w[j] -= lr * ((g.get(j, 0.0) / n_b) + l2 * w[j])
        w[dim] -= lr * (g.get(dim, 0.0) / n_b)
    feats.unpersist()
    labels.unpersist()
    return w


def py_reference_minibatch(rows, dim: int = 256, n_iters: int = 24,
                           n_buckets: int = 4, lr: float | None = None,
                           l2: float = 0.0, seed: int = 0) -> list[float]:
    """Driver-only twin of logreg_train_minibatch over (id, text, label)
    tuples: bucket = signed(xxh64_long(id, seed=xxh64_long(seed))) %
    n_buckets (python % = positive mod = Spark pmod), same cycling
    schedule, same update arithmetic."""
    from ..functions.xxh import tokens_spark, xxh64_long, xxh64_string
    mask = (1 << 64) - 1
    seed_h = xxh64_long(int(seed)) & mask
    docs = []
    for i, t, yv in rows:
        b = xxh64_long(int(i), seed=seed_h) % n_buckets
        idxs = sorted({xxh64_string(tok) % dim for tok in tokens_spark(t)})
        docs.append((b, idxs, float(yv)))
    counts: dict = {}
    for b, _i, _y in docs:
        counts[b] = counts.get(b, 0) + 1
    if lr is None:
        lr = 4.0 / (max(len(i) for _b, i, _y in docs) + 1)   # +1 = bias
    w = [0.0] * (dim + 1)
    for t in range(n_iters):
        b = t % n_buckets
        n_b = counts.get(b, 0)
        if n_b == 0:
            continue
        g = [0.0] * (dim + 1)
        for db, idxs, yv in docs:
            if db != b:
                continue
            mg = sum(w[j] for j in idxs) + w[dim]
            r = 1.0 / (1.0 + math.exp(-mg)) - yv
            for j in idxs:
                g[j] += r
            g[dim] += r
        for j in range(dim):
            w[j] -= lr * ((g[j] / n_b) + l2 * w[j])
        w[dim] -= lr * (g[dim] / n_b)
    return w
