"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant is
the scale path (prunes candidates to matching sign-buckets before scoring).

Determinism across engines (the DuckDB oracle): per-element products are
cast to DECIMAL before summation, so the dot product is an *exact* sum —
independent of accumulation order — and the final double is bit-identical
in Spark and DuckDB. See SURVEY §5.2 determinism rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import fsutil

#: Cross-engine-exact quantization scale (r10, replacing the mirrored
#: double->decimal(24,12) cast): q(v) = floor(v*1e12 + 0.5) — floor,
#: multiply and add are IEEE-deterministic doubles, so BOTH engines
#: compute the IDENTICAL long from the identical double, and integer
#: sums are exact and order-independent. The decimal cast it replaces
#: had a measured failure mode (hit once at sf1, r10): Spark's
#: BigDecimal.valueOf rounds the double's SHORTEST REPR while DuckDB's
#: cast rounds the EXACT binary value — they disagree whenever the
#: shortest repr lands exactly on a 1e-12 midpoint that the exact value
#: straddles (0.2714602053165436^2 reprs as ...0705 while its exact
#: value is 5.15e-18 below the tie). floor-quantized longs also measure
#: FASTER than decimal aggregates on both engines.
_Q_SCALE = 1e12


def _qprod(v: Column) -> Column:
    """floor(v*1e12 + 0.5) as a long — the engine-exact quantizer."""
    return F.floor(v * F.lit(_Q_SCALE) + F.lit(0.5))


# --- Expression builders ----------------------------------------------------
#
# The vector expressions are SQL-string builders: each takes its operands'
# SQL text (a column name or a composed sub-expression) and returns one
# string the caller parses once with F.expr/selectExpr — a Column chain
# paid tens of py4j round trips (~0.8 ms each, r13 cProfile) per use,
# billed to the query by the bench. Literal types are spelled out:
# D-suffixed doubles, 0L for the long accumulator.

def _exact_dot_sql(a: str, b: str) -> str:
    """Order-independent, engine-exact dot product -> double: quantized
    products (64 of them, each |q| <= ~4e12; see _Q_SCALE) sum exactly
    in a long, and the long casts to double exactly (< 2^53)."""
    return (f"(CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
            f"floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1.0E12D + 0.5D)), "
            f"0L, (acc, v) -> acc + v) AS DOUBLE) / 1.0E12D)")


def _norm_sql(a: str) -> str:
    return f"sqrt({_exact_dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """Engine-exact cosine: anything whose VALUES reach an oracle-checked
    output scores with this. Three array traversals per call; the pair
    and assignment joins hoist the norms (`_with_norm`)."""
    return f"({_exact_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


def _fast_dot_sql(a: str, b: str) -> str:
    """Double-precision HOF dot product — per-row deterministic (arrays
    fold in fixed order) but not cross-engine exact, ~4x cheaper than
    `_exact_dot_sql`. The fastest JVM-side form for wide arrays: an
    unrolled element_at chain falls out of whole-stage codegen at 64
    terms and measured 2.4x SLOWER; an Arrow pandas-UDF dot only ties it
    (transfer-bound). Keep pre-filter / training math on this; anything
    whose VALUES reach an oracle-checked output uses `cosine_sql`."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            f"(acc, v) -> acc + v)")


def _fast_dot_fixed_sql(a: str, b: str, dim: int) -> str:
    """Double-precision dot for a KNOWN vector width, as a BALANCED TREE of
    element_at products (explicit parentheses pin the association):
    unlike the left-deep unrolled chain (measured 2.4x slower — codegen
    splits it into a deep call chain) and the interpreted HOF
    `_fast_dot_sql`, the log-depth tree stays inside whole-stage
    codegen's method-split limits (measured r7 at sf0.1, 15k candidate
    pairs: verify stage 0.69 s tree vs 0.87 s HOF vs 0.88 s chain).
    Numerically at least as tight as the sequential fold (pairwise
    summation), so every pre-filter margin argument for `_fast_dot_sql`
    holds unchanged. Use when the corpus pins the dimension (embedding
    tables do); dims ≳ a few hundred should stay on `_fast_dot_sql` —
    expression size grows linearly and analysis cost eventually
    dominates.

    Width guard (r7 review): dim SMALLER than the true vector width
    would silently truncate the dot (a pre-filter computed over a prefix
    but normalized by full norms under-scores true pairs and drops them
    before exact verification — silent recall loss). dim larger already
    throws under ANSI element_at; the assert_true makes the short case
    just as loud. It returns NULL when the predicate holds, so the
    coalesce adds exactly 0.0 to the dot."""
    terms = [f"(CAST(element_at({a}, {i + 1}) AS DOUBLE) * "
             f"CAST(element_at({b}, {i + 1}) AS DOUBLE))"
             for i in range(dim)]
    while len(terms) > 1:
        terms = [f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms)
                 else terms[i] for i in range(0, len(terms), 2)]
    msg = f"_fast_dot_fixed: vector width != pinned dim={dim}"
    chk = (f"coalesce(CAST(assert_true(size({a}) = {dim} AND "
           f"size({b}) = {dim}, '{msg}') AS DOUBLE), 0.0D)")
    return f"({terms[0]} + {chk})"


def _with_norm(df: DataFrame, vec_col: str, dot, out: str = "__n") -> DataFrame:
    """Append sqrt(dot(vec, vec)) as `out` — the per-row hoisted norm
    (r13), for `dot` = `_exact_dot_sql` or `_fast_dot_sql`. A cosine
    evaluates THREE array traversals per call (dot + both norms); every
    pair/assignment join in this module reuses each row's norm across
    many pairs, so it computes the norm here once per ROW, in a
    projection below the join, and scores pairs as
    dot(a, b) / (na * nb) — the same three sub-expressions combined by
    the same division/multiplication tree as `cosine_sql`, hence
    bit-identical values (nothing is reassociated; only the evaluation
    COUNT of each norm changes). Measured at sf0.1: semantic-dedup pair
    marking 6.2 -> 1.9 s (n_assign=1), 13.6 -> 4.7 s (n_assign=2).
    CollapseProject cannot re-inline the norm across the join boundary."""
    return df.withColumn(out, F.expr(f"sqrt({dot(vec_col, vec_col)})"))


def brute_force_topk(emb: DataFrame, query_df: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of `emb` against a 1-row query DataFrame
    (columns: q_vec). Broadcast the query; score every vector (one scan, no
    shuffle until the tiny top-k); deterministic tie-break on id.

    At 100 TB this is the exact baseline: a single pass with a
    TakeOrderedAndProject at the end — no global sort materialization.
    """
    scored = (
        emb.crossJoin(F.broadcast(query_df))
        .selectExpr(id_col, f"{cosine_sql(vec_col, 'q_vec')} AS cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def sign_bucket(vec_col: Column, n_bits: int = 4) -> Column:
    """Random-hyperplane-style LSH bucket from the signs of the first
    n_bits components (deterministic; a production variant draws seeded
    hyperplanes — the bucketing/probing plumbing is identical)."""
    bucket = F.lit(0)
    for i in range(n_bits):
        bit = F.when(F.element_at(vec_col, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket.cast("int")


def lsh_topk(emb: DataFrame, query_df: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_bits: int = 4, n_probe: int = 1,
             max_flip: int = 1) -> DataFrame:
    """Approximate top-k: score only vectors in the query's sign-bucket(s).

    Scale path: bucket is a pre-computable partition key (write the corpus
    bucketed-by `bucket` and the probe prunes to n_probe/2^n_bits of the
    data).

    MULTI-PROBE (r8, verdict task 6 — the Lv et al. 2007 "Multi-Probe
    LSH" idea): with n_probe > 1, also probe the n_probe-1 neighboring
    buckets obtained by flipping the LEAST-CONFIDENT sign bits — the
    components with the smallest |value|, i.e. the hyperplanes the query
    sits closest to, exactly where a true neighbor most likely landed on
    the other side. Measured on the fixture (tools/recall_probe.py):
    recall@10 0.27 single-probe -> 0.33 at n_probe=2 -> 0.60 at
    n_probe=4, while still scanning only n_probe of 2^n_bits buckets. The probe
    table stays 1-row-per-bucket and broadcast; candidate rows join each
    probe bucket at most once (probe buckets are distinct by
    construction), so no post-join dedup is needed.

    PERTURBATION SEQUENCES (r8, late): `max_flip` bounds the SIZE of the
    flipped-bit sets. max_flip=1 (default, the gated registry shape)
    generates single-bit flips only — at most n_bits + 1 buckets.
    max_flip>=2 enumerates every non-empty subset of <= max_flip bits and
    orders candidates by the paper's expected-score proxy: the sum of
    SQUARED distances-to-hyperplane of the flipped bits (Lv et al. §4.2
    — crossing two near boundaries can outrank crossing one far one,
    which single-bit ordering cannot express). Subsets reachable:
    1 + sum_{j<=max_flip} C(n_bits, j); at max_flip=n_bits every bucket
    is probeable and n_probe=2^n_bits IS brute force. The candidate
    array is query-side only (1-row broadcast frame) so enumeration cost
    is negligible; the corpus-side plan is identical for any max_flip.
    Measured (tools/recall_probe.py, sf0.01): n_probe=8 max_flip=2 hits
    recall@10 0.83 at 8/16 buckets scanned — past IVF's 0.67 (2-of-8
    probes) WITHOUT trained centroids, the regime the r8 verdict assigned
    to the IVF tier. IVF stays ahead per-byte-scanned (25% scan fraction
    vs 50% here); this path wins when no training pass has run."""
    if not 1 <= max_flip <= n_bits:
        raise ValueError(f"max_flip={max_flip} must be in [1, n_bits={n_bits}]")
    from itertools import combinations
    from math import comb
    reachable = 1 + sum(comb(n_bits, j) for j in range(1, max_flip + 1))
    if n_probe > reachable:
        raise ValueError(
            f"n_probe={n_probe} exceeds the {reachable} buckets reachable "
            f"with max_flip={max_flip} flips; raise max_flip (<= n_bits) "
            "or use the IVF index for deeper probing")
    bucketed = emb.withColumn("bucket", sign_bucket(F.col(vec_col), n_bits))
    q = query_df.withColumn("q_bucket", sign_bucket(F.col("q_vec"), n_bits))
    if n_probe <= 1:
        probes = q.select("q_vec", F.col("q_bucket").alias("p_bucket"))
    else:
        # (score, subset index, flipped bucket) per candidate subset,
        # sorted ascending by score (ties break on enumeration index —
        # size-1 subsets first in bit order, so max_flip=1 reproduces the
        # original single-bit ordering exactly). Flipping bit i toggles
        # 1 << (n_bits-1-i) because sign_bucket makes component 0 the
        # MOST significant bit. Score = sum of squared components: for
        # singles this orders identically to |component|; across sizes it
        # is the Lv et al. expected-score proxy.
        subsets = [s for size in range(1, max_flip + 1)
                   for s in combinations(range(n_bits), size)]
        def _score(s):
            parts = [F.pow(F.element_at(F.col("q_vec"), i + 1), F.lit(2))
                     for i in s]
            total = parts[0]
            for p in parts[1:]:
                total = total + p
            return total
        flips = F.array(*[
            F.struct(
                _score(s).alias("conf"),
                F.lit(j).alias("idx"),
                F.col("q_bucket").bitwiseXOR(
                    F.lit(sum(1 << (n_bits - 1 - i) for i in s))).alias("b"))
            for j, s in enumerate(subsets)])
        near = F.slice(F.array_sort(flips), 1, n_probe - 1)
        buckets = F.concat(F.array(F.col("q_bucket")),
                           F.transform(near, lambda s: s["b"]))
        probes = q.select("q_vec", F.explode(buckets).alias("p_bucket"))
    probed = bucketed.join(F.broadcast(probes),
                           F.col("bucket") == F.col("p_bucket"))
    scored = probed.select(
        F.col(id_col), F.expr(cosine_sql(vec_col, "q_vec")).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def _seed_centroids(emb: DataFrame, n_centroids: int,
                    id_col: str, vec_col: str) -> DataFrame:
    return (emb.orderBy(F.col(id_col).asc()).limit(n_centroids)
            .select(F.col(id_col).alias("centroid_id"),
                    F.col(vec_col).alias("c_vec")))


def kmeans_centroids(emb: DataFrame, n_centroids: int = 16,
                     n_iters: int = 3, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     exact: bool = False) -> DataFrame:
    """Lloyd's k-means over embeddings, expressed as DataFrame ops.

    Per iteration: broadcast the centroid table, assign by max cosine
    (narrow window over n_centroids rows per vector), recompute centroids
    as per-dimension means via posexplode + two map-side-combinable
    aggregations. Deterministic seed (first n vectors by id); each
    iteration materializes only the tiny centroid table on the driver —
    the corpus is scanned, never collected.

    exact=True makes the whole training CROSS-ENGINE EXACT (the
    ann_ivf_topk oracle relies on it): assignment uses the decimal-exact
    ``_exact_dot_sql`` instead of the ~4x-cheaper ``_fast_dot_sql``, and the
    centroid update keeps per-dimension DECIMAL SUMS cast to double
    instead of float means — no division (cosine is scale-invariant, so
    sum and mean are interchangeable as directions) and no
    summation-order dependence, so a SQL engine replaying the same
    iterations computes bit-identical centroids and assignments.
    """
    spark = emb.sparkSession
    dot = _exact_dot_sql if exact else _fast_dot_sql
    cents = _seed_centroids(emb, n_centroids, id_col, vec_col)
    if exact:
        cents = cents.select(
            "centroid_id",
            F.transform("c_vec", lambda x: x.cast("double")).alias("c_vec"))
    from pyspark.sql import Window
    # r13 norm hoist (see _with_norm): bit-identical sim values, each
    # side's norm evaluated per row instead of per (vector, centroid)
    emb_n = _with_norm(emb, vec_col, dot, out="__nv")
    sim = f"{dot(vec_col, 'c_vec')} / (__nv * __nc) AS sim"
    for _ in range(n_iters):
        cents_n = _with_norm(cents, "c_vec", dot, out="__nc")
        scored = (emb_n.crossJoin(F.broadcast(cents_n))
                  .selectExpr(f"{id_col} AS id", f"{vec_col} AS vec",
                              "centroid_id", sim))
        w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                             F.col("centroid_id").asc())
        assigned = (scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1))
        dims = assigned.select(
            "centroid_id", F.posexplode("vec").alias("pos", "x"))
        if exact:
            # engine-exact component sum (r10: floor-quantized longs, see
            # _Q_SCALE — the mirrored decimal cast diverged on shortest-
            # repr ties): decimal(38,0) accumulation keeps the sum exact
            # past long range at corpus scale; the final double cast is
            # correctly rounded identically in both engines
            m = (F.sum(_qprod(F.col("x").cast("double"))
                       .cast("decimal(38,0)"))
                 .cast("double") / F.lit(_Q_SCALE)).alias("m")
            out_elem = "double"
        else:
            m = F.avg("x").alias("m")
            out_elem = "float"
        means = dims.groupBy("centroid_id", "pos").agg(m)
        new_cents = (means.groupBy("centroid_id")
                     .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                          .alias("pm"))
                     .select("centroid_id",
                             F.transform("pm", lambda s: s["m"].cast(out_elem))
                             .alias("c_vec")))
        # Materialize the tiny centroid table between iterations: chaining
        # the plans lazily makes iteration i embed (and RE-EXECUTE) the
        # whole history of iterations < i on every downstream action.
        cents = spark.createDataFrame(new_cents.collect(), new_cents.schema)
    return cents


def ivf_assign(emb: DataFrame, n_centroids: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: DataFrame | None = None,
               exact: bool = False) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid.

    Default centroids are the first n_centroids vectors by id —
    deterministic and dependency-free; pass `centroids` from
    `kmeans_centroids` for a trained index. The plan shape (tiny broadcast
    centroid table, one scored pass, per-vector argmax via a narrow window
    over n_centroids rows) is identical either way.
    Output: (id, vec, centroid_id). At scale, write the corpus partitioned
    by centroid_id; probes then prune to n_probe/n_centroids of the data.
    """
    cents = centroids if centroids is not None else _seed_centroids(
        emb, n_centroids, id_col, vec_col)
    # delegate to the shared ranked-assignment helper at width 1 (r13
    # review: two verbatim copies of the scored-window block let a
    # future edit to one silently break the rank-1 == ivf_assign parity
    # the v2 index format depends on)
    return _ranked_assign(emb, cents, 1, id_col=id_col, vec_col=vec_col,
                          exact=exact).drop("assign_rank")


def ivf_topk(emb: DataFrame, query_df: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None,
             exact: bool = False) -> DataFrame:
    """IVF-probed approximate top-k: score the query against the centroid
    table (tiny), probe the n_probe nearest inverted lists, brute-force
    only within them. The 100 TB pattern: centroid scoring is driver-scale,
    list probing is partition pruning, and the final scan touches
    n_probe/n_centroids of the corpus."""
    cents = centroids if centroids is not None else _seed_centroids(
        emb, n_centroids, id_col, vec_col)
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col, centroids=cents,
                          exact=exact)
    probe = (cents.crossJoin(F.broadcast(query_df))
             .select("centroid_id",
                     F.expr(cosine_sql("c_vec", "q_vec")).alias("sim"))
             .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
             .limit(n_probe)
             .select("centroid_id"))
    probed = assigned.join(F.broadcast(probe), "centroid_id")
    scored = (probed.crossJoin(F.broadcast(query_df))
              .select(F.col("id").alias(id_col),
                      F.expr(cosine_sql("vec", "q_vec")).alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ivf_index_write(emb: DataFrame, path: str, n_centroids: int = 16,
                    train_iters: int = 0, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    centroids: DataFrame | None = None) -> None:
    """Build and persist an IVF index: the corpus assigned to inverted
    lists and written as parquet PARTITIONED BY centroid_id, plus the
    centroid table alongside.

    This is the 100 TB probe story made physical: because each inverted
    list is a hive-style partition directory, a probe filter on
    centroid_id prunes at the FILE LISTING level (PartitionFilters in the
    scan, not a post-scan filter) — a probe of n_probe/n_centroids lists
    reads exactly that fraction of the index from storage. Build cost is
    one assign pass (corpus x broadcast centroids) + one shuffle-free
    partitioned write."""
    cents = centroids
    if cents is None:
        cents = (kmeans_centroids(emb, n_centroids, train_iters,
                                  id_col, vec_col)
                 if train_iters > 0
                 else _seed_centroids(emb, n_centroids, id_col, vec_col))
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col, centroids=cents)
    (assigned.write.mode("overwrite")
     .partitionBy("centroid_id").parquet(path + "/vectors"))
    cents.write.mode("overwrite").parquet(path + "/centroids")
    # Trained-size watermark for the re-train policy; counting the
    # just-written parquet is a footer-only job (no data read).
    spark = emb.sparkSession
    n = spark.read.parquet(path + "/vectors").count()
    spark.createDataFrame([(n, n_centroids)],
                          "n_at_train long, n_centroids int") \
        .coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def ivf_index_maybe_retrain(spark, path: str, growth_threshold: float = 0.5,
                            train_iters: int = 2,
                            max_list_share: float | None = None) -> bool:
    """Periodic re-train policy for a persisted IVF index (the drift half
    of the append story: ivf_index_append keeps the centroid geometry
    frozen, so appended mass degrades list balance and probe recall over
    time).

    Two independent triggers, both metadata-scale (row counts come from
    parquet footers / the partition-column projection — no vector data
    is read):
    - GROWTH: rows appended since the last train exceed
      `growth_threshold` of the trained size. Catches steady drift.
    - IMBALANCE (`max_list_share`, opt-in): the largest inverted list
      holds more than that share of all vectors. Catches the failure
      growth can't see — a stream of near-identical appends piling into
      ONE list, which makes every probe of that list scan a constant
      fraction of the corpus (the N^2-confinement argument breaks) long
      before total growth trips. A balanced index has share ~1/n_lists,
      so thresholds a few multiples of that (e.g. 0.25 at 16 lists) are
      meaningful; None (default) keeps the r6 growth-only behavior.

    An index without a meta table (pre-policy layout) is treated as due.
    On trigger: re-train k-means on the full corpus, rebuild into the
    NEXT GENERATION directory, and publish it with one atomic marker-file
    create (`fsutil.gen_commit`) — readers see the old generation until
    the marker exists, a crash before it leaves the old generation
    untouched, and there is no rename anywhere on the commit path (safe
    on object stores, where rename is copy+delete).

    Returns True iff a re-train ran.
    """
    base = fsutil.gen_resolve(spark, path)
    vecs = spark.read.parquet(base + "/vectors")
    n_now = vecs.count()
    try:
        meta = spark.read.parquet(base + "/meta").head()
        n_at_train, n_cent = meta["n_at_train"], meta["n_centroids"]
    except Exception:
        n_at_train, n_cent = None, None
    due = n_at_train is None
    if not due:
        due = (n_now - n_at_train) > growth_threshold * max(n_at_train, 1)
    if not due and max_list_share is not None:
        biggest = (vecs.groupBy("centroid_id")
                   .agg(F.count("*").alias("n"))
                   .agg(F.max("n")).head()[0]) or 0
        due = biggest > max_list_share * max(n_now, 1)
    if not due:
        return False
    if n_cent is None:
        n_cent = spark.read.parquet(base + "/centroids").count()

    emb = vecs.select(F.col("id").alias("vec_id"),
                      F.col("vec").alias("embedding"))
    build = fsutil.gen_begin(spark, path)
    ivf_index_write(emb, build, n_centroids=int(n_cent),
                    train_iters=train_iters)
    fsutil.gen_commit(spark, build)
    fsutil.gen_gc(spark, path, legacy_subs=("vectors", "centroids", "meta"))
    return True


def ivf_index_append(spark, emb_new: DataFrame, path: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Incrementally add vectors to a persisted IVF index: assign the NEW
    vectors against the index's SAVED centroids (the index's geometry is
    immutable between re-trains — appending must not move existing lists)
    and append their parquet files into the matching centroid_id
    partition directories. Cost is one assign pass over the new vectors
    plus a partitioned append — the existing index is never read or
    rewritten. Re-train + full rewrite (ivf_index_write with train_iters)
    remains the periodic compaction path when drift accumulates."""
    base = fsutil.gen_resolve(spark, path)
    saved = spark.read.parquet(base + "/centroids")
    rows = saved.collect()                       # tiny; pin as a literal
    cents = spark.createDataFrame(rows, saved.schema)
    assigned = ivf_assign(emb_new, len(rows), id_col, vec_col,
                          centroids=cents)
    (assigned.write.mode("append")
     .partitionBy("centroid_id").parquet(base + "/vectors"))


def ivf_probe_topk(spark, path: str, query_df: DataFrame, k: int = 10,
                   n_probe: int = 4, id_col: str = "vec_id") -> DataFrame:
    """Query a persisted IVF index: score the query against the (tiny)
    centroid table, collect the n_probe nearest list ids — metadata-scale,
    not data — and scan ONLY those partitions of the vectors table via a
    static centroid_id IN (...) filter, which Spark turns into partition
    pruning at file-listing time. Exact cosine within the probed lists."""
    base = fsutil.gen_resolve(spark, path)
    cents = spark.read.parquet(base + "/centroids")
    probe = (cents.crossJoin(F.broadcast(query_df))
             .select("centroid_id",
                     F.expr(cosine_sql("c_vec", "q_vec")).alias("sim"))
             .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
             .limit(n_probe))
    lists = [r["centroid_id"] for r in probe.collect()]
    vecs = (spark.read.parquet(base + "/vectors")
            .filter(F.col("centroid_id").isin(lists)))
    scored = (vecs.crossJoin(F.broadcast(query_df))
              .select(F.col("id").alias(id_col),
                      F.expr(cosine_sql("vec", "q_vec")).alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def pairwise_topk_per_label(emb: DataFrame, k: int = 3,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            label_col: str = "label") -> DataFrame:
    """Within-label all-pairs cosine, top-k pairs per label — the blocked
    (grouped) form of pairwise similarity: the equi-join on label confines
    the quadratic term to label groups."""
    a = emb.select(F.col(label_col).alias("lbl"), F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("va"))
    b = emb.select(F.col(label_col).alias("lbl"), F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("vb"))
    pairs = a.join(b, "lbl").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select("lbl", "id_a", "id_b",
                          F.expr(cosine_sql("va", "vb")).alias("cosine"))
    from pyspark.sql import Window
    w = Window.partitionBy("lbl").orderBy(F.col("cosine").desc(),
                                          F.col("id_a").asc(), F.col("id_b").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("lbl", "id_a", "id_b", "cosine", "rank"))


def semantic_dedup(emb: DataFrame, threshold: float = 0.4,
                   n_centroids: int = 16, n_iters: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   centroids: DataFrame | None = None,
                   exact: bool = False, n_assign: int = 1,
                   ranked: DataFrame | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then mark semantic duplicates WITHIN each cluster —
    a vector is a duplicate iff some lower-id vector in its cluster has
    cosine >= threshold (deterministic min-id-wins representative; the
    paper keeps the member farthest from the centroid — an arbitrary
    choice there, pinned here to ids so reruns and the SQL oracle agree).

    Output: (id, centroid_id, is_dup). Scale shape: the clustering
    confines the quadratic term to clusters (the paper's own argument) —
    at 100 TB, n_centroids grows ∝ corpus so per-cluster membership
    stays bounded, the pair join is an equi-join on centroid_id, and
    nothing all-pairs ever forms. exact=True uses decimal-exact cosine
    end-to-end (training + pair scoring) for cross-engine gates.

    n_assign > 1 (r11) additionally compares pairs sharing ANY of each
    vector's n_assign nearest centroids — the cheap counter to the
    confinement miss mode (a near-dup pair split across a cluster
    boundary is invisible at n_assign=1; the recall probe measured
    0.32 at eps=0.4 on unclustered embeddings). Pair cost rises by at
    most n_assign^2 (~n_assign in practice); output rows, centroid_id
    (the PRIMARY assignment) and min-id-wins semantics are unchanged —
    extra assignments only GENERATE candidate pairs.

    `ranked` (r14, guide §5 "cache what is reused"): an optional
    caller-precomputed `_ranked_assign(emb, cents, >= n_assign)` table
    (MATERIALIZED — localCheckpoint or persist), letting callers that
    run several n_assign variants over the SAME corpus and centroids
    (the pairwise_topk_per_label gate runs n_assign=1 and 2) pay the
    broadcast-centroid scoring scan once instead of once per variant.
    Rank-k rows of a wider table are identical to a narrower run's by
    the window's own definition (rn <= n filtered to rn <= m ==
    rn <= m), so results are unchanged — pinned by
    test_semantic_dedup_shared_ranked_bit_equal.
    """
    cents = centroids if centroids is not None else kmeans_centroids(
        emb, n_centroids=n_centroids, n_iters=n_iters, id_col=id_col,
        vec_col=vec_col, exact=exact)
    if ranked is not None:
        asg = (ranked.filter(F.col("assign_rank") == 1)
               .select("id", "vec", "centroid_id"))
        if n_assign <= 1:
            return _mark_semantic_dups(asg, threshold, exact)
        pair_asg = (ranked.filter(F.col("assign_rank") <= n_assign)
                    .select("id", "vec", "centroid_id"))
        return _mark_semantic_dups(asg, threshold, exact,
                                   pair_asg=pair_asg)
    if n_assign <= 1:
        asg = ivf_assign(emb, n_centroids=n_centroids, id_col=id_col,
                         vec_col=vec_col, centroids=cents, exact=exact)
        return _mark_semantic_dups(asg, threshold, exact)
    multi = _ranked_assign(emb, cents, n_assign, id_col=id_col,
                           vec_col=vec_col, exact=exact).localCheckpoint()
    asg = (multi.filter(F.col("assign_rank") == 1)
           .select("id", "vec", "centroid_id"))
    pair_asg = multi.select("id", "vec", "centroid_id")
    return _mark_semantic_dups(asg, threshold, exact,
                               pair_asg=pair_asg)


def _mark_semantic_dups(asg: DataFrame, threshold: float, exact: bool,
                        pair_asg: DataFrame | None = None) -> DataFrame:
    """Min-id-wins duplicate marking over an (id, vec, centroid_id)
    assignment: is_dup iff some lower-id vector in the SAME cluster has
    cosine >= threshold (engine-exact with `exact`, double-precision
    otherwise). Shared by the flat and two-level SemDeDup.
    `pair_asg` optionally supplies a WIDER (multi-assignment) table for
    candidate-pair generation only — base rows still come from `asg`."""
    # The assignment feeds THREE plan branches (both self-join sides +
    # the output base); without a materialization each action would
    # re-run the assignment (broadcast-centroid scan + per-id window)
    # three times (review finding). localCheckpoint needs no caller-side
    # unpersist — the ContextCleaner reclaims it once unreferenced.
    asg = asg.localCheckpoint()
    dot = _exact_dot_sql if exact else _fast_dot_sql
    # norm-hoisted pair scoring (see _with_norm)
    src = _with_norm(asg if pair_asg is None else pair_asg, "vec", dot)
    a = src.select(F.col("centroid_id"), F.col("id").alias("id_a"),
                   F.col("vec").alias("va"), F.col("__n").alias("na"))
    b = src.select(F.col("centroid_id"), F.col("id").alias("id_b"),
                   F.col("vec").alias("vb"), F.col("__n").alias("nb"))
    score = F.expr(f"{dot('va', 'vb')} / (na * nb)")
    dup_ids = (a.join(b, "centroid_id")
               .filter(F.col("id_b") < F.col("id_a"))
               .filter(score >= threshold)
               .select(F.col("id_a").alias("id")).distinct())
    return (asg.join(dup_ids.withColumn("__d", F.lit(True)), "id", "left")
            .select("id", "centroid_id",
                    F.coalesce("__d", F.lit(False)).alias("is_dup")))


def kmeans_centroids_two_level(
        emb: DataFrame, n_coarse: int = 8, n_fine: int = 8,
        n_iters: int = 2, id_col: str = "vec_id",
        vec_col: str = "embedding",
        train_mod: int | None = None,
        exact: bool = False) -> tuple[DataFrame, DataFrame]:
    """Hierarchical (two-level) k-means: n_coarse top-level centroids,
    then n_fine centroids per coarse cell — n_coarse*n_fine leaf cells
    total, trained at O(n*(n_coarse + n_fine)) assignment cost instead
    of flat Lloyd's O(n * k). This is the 100 TB SemDeDup shape the r8
    scale probe motivated (flat training with k ∝ corpus bent the curve
    to O(n²); see docs/SCALE.md): with n_coarse ≈ n_fine ≈ √k, every
    scan compares each vector against √k candidates, so doubling BOTH
    levels quadruples the leaf count for 2× the per-vector work.

    train_mod hash-samples the TRAINING corpus (keep ids with
    id % train_mod == 0; deterministic, rerun-stable) — the standard
    big-data k-means practice: centroid quality needs a representative
    sample, not every row; assignment still covers the full corpus.

    Per fine iteration: the fine-centroid table (n_coarse*n_fine rows)
    is broadcast and joined ON coarse_id — each vector scores only its
    own cell's n_fine candidates (never the full k). Centroid updates
    are the same per-dimension mean aggregates as flat Lloyd; only the
    (k-sized) centroid table is ever collected.

    Returns (fine, coarse): fine = (coarse_id, fine_id, centroid_id,
    c_vec) with centroid_id = coarse_id * n_fine + fine_id (the
    leaf-cell id), coarse = the (centroid_id, c_vec) top level. A coarse
    cell that captured no training members (possible under train_mod)
    falls back to the coarse centroid itself as its single fine
    centroid, so full-corpus assignment can never drop a vector.

    exact=True mirrors kmeans_centroids(exact=True) at BOTH levels
    (decimal-exact cosine assignment; per-dimension decimal sums cast
    to double, no division; double element type end-to-end), so a SQL
    engine unrolling the same chain computes bit-identical leaf cells —
    the pairwise_topk_per_label kind='semdedup2' oracle relies on it.
    """
    from pyspark.sql import Window
    spark = emb.sparkSession
    dot = _exact_dot_sql if exact else _fast_dot_sql
    elem = "double" if exact else "float"
    train = emb
    if train_mod is not None and train_mod > 1:
        train = emb.filter(F.pmod(F.col(id_col), F.lit(train_mod)) == 0)
    coarse = kmeans_centroids(train, n_centroids=n_coarse,
                              n_iters=n_iters, id_col=id_col,
                              vec_col=vec_col, exact=exact)
    asg1 = ivf_assign(train, id_col=id_col, vec_col=vec_col,
                      centroids=coarse, exact=exact) \
        .select("id", "vec", F.col("centroid_id").alias("coarse_id"))
    # training scans the sample 2*n_iters+1 times — cut the lineage once
    asg1 = asg1.localCheckpoint()
    # deterministic seeds: first n_fine member vectors per coarse cell
    wseed = Window.partitionBy("coarse_id").orderBy(F.col("id").asc())
    fine = (asg1.withColumn("rn", F.row_number().over(wseed))
            .filter(F.col("rn") <= n_fine)
            .select("coarse_id", (F.col("rn") - 1).alias("fine_id"),
                    F.transform("vec", lambda x: x.cast(elem))
                    .alias("c_vec")))
    # r13 norm hoist (see _with_norm): bit-identical sim values
    asg1_n = _with_norm(asg1, "vec", dot, out="__nv")
    sim = f"{dot('vec', 'c_vec')} / (__nv * __nc) AS sim"
    for _ in range(n_iters):
        fine_n = _with_norm(fine, "c_vec", dot, out="__nc")
        scored = (asg1_n.join(F.broadcast(fine_n), "coarse_id")
                  .selectExpr("coarse_id", "id", "vec", "fine_id", sim))
        w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                             F.col("fine_id").asc())
        assigned = (scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1))
        dims = assigned.select(
            "coarse_id", "fine_id", F.posexplode("vec").alias("pos", "x"))
        if exact:
            # engine-exact component sum (r10: floor-quantized longs in a
            # decimal(38,0) accumulator, same as flat exact Lloyd)
            m = (F.sum(_qprod(F.col("x").cast("double"))
                       .cast("decimal(38,0)"))
                 .cast("double") / F.lit(_Q_SCALE)).alias("m")
        else:
            m = F.avg("x").alias("m")
        means = dims.groupBy("coarse_id", "fine_id", "pos").agg(m)
        new_fine = (means.groupBy("coarse_id", "fine_id")
                    .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                         .alias("pm"))
                    .select("coarse_id", "fine_id",
                            F.transform("pm", lambda s: s["m"]
                                        .cast(elem)).alias("c_vec")))
        # materialize the (k-sized) table per iteration — same contract
        # as flat kmeans_centroids (lazy chaining re-executes history)
        fine = spark.createDataFrame(new_fine.collect(), new_fine.schema)
    # empty-cell fallback: a coarse cell with no training members gets
    # its coarse centroid as fine_id 0, so assignment covers every cell
    missing = coarse.join(
        fine.select(F.col("coarse_id").alias("centroid_id")).distinct(),
        "centroid_id", "left_anti")
    fallback = missing.select(
        F.col("centroid_id").alias("coarse_id"),
        F.lit(0).alias("fine_id"),
        F.transform("c_vec", lambda x: x.cast(elem)).alias("c_vec"))
    fine = fine.unionByName(fallback)
    return (fine.withColumn(
        "centroid_id",
        (F.col("coarse_id") * n_fine + F.col("fine_id")).cast("int"))
        .select("coarse_id", "fine_id", "centroid_id", "c_vec"), coarse)


def ivf_assign_two_level(emb: DataFrame, coarse: DataFrame,
                         fine: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         exact: bool = False,
                         n_assign: int = 1) -> DataFrame:
    """Assign every vector to its leaf cell through the hierarchy:
    nearest coarse centroid (broadcast scan over n_coarse), then nearest
    fine centroid WITHIN that cell (broadcast join on coarse_id over
    n_fine candidates). Output: (id, vec, centroid_id) — the same
    contract as flat ivf_assign, at O(n_coarse + n_fine) comparisons
    per vector. exact=True scores with the decimal-exact cosine at both
    levels (cross-engine gates). n_assign > 1 (r11) keeps each vector's
    n_assign nearest LEAF cells within its coarse cell and adds an
    `assign_rank` column (1 = primary) — existing callers see the
    unchanged 3-column shape at the default."""
    from pyspark.sql import Window
    dot = _exact_dot_sql if exact else _fast_dot_sql
    asg1 = ivf_assign(emb, id_col=id_col, vec_col=vec_col,
                      centroids=coarse, exact=exact) \
        .select("id", "vec", F.col("centroid_id").alias("coarse_id"))
    # r13 norm hoist (see _with_norm): bit-identical sim values
    asg1_n = _with_norm(asg1, "vec", dot, out="__nv")
    fine_n = _with_norm(fine, "c_vec", dot, out="__nc")
    scored = (asg1_n.join(F.broadcast(fine_n), "coarse_id")
              .selectExpr("id", "vec", "centroid_id",
                          f"{dot('vec', 'c_vec')} / (__nv * __nc) AS sim"))
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                         F.col("centroid_id").asc())
    ranked = scored.withColumn("rn", F.row_number().over(w))
    if n_assign <= 1:
        return ranked.filter(F.col("rn") == 1) \
            .select("id", "vec", "centroid_id")
    return (ranked.filter(F.col("rn") <= n_assign)
            .select("id", "vec", "centroid_id",
                    F.col("rn").alias("assign_rank")))


def semantic_dedup_two_level(emb: DataFrame, threshold: float = 0.4,
                             n_coarse: int = 8, n_fine: int = 8,
                             n_iters: int = 2, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             train_mod: int | None = None,
                             exact: bool = False,
                             n_assign: int = 1) -> DataFrame:
    """SemDeDup over hierarchical leaf cells — the 100 TB variant: same
    min-id-wins duplicate semantics as `semantic_dedup`, but clustering
    cost is O(n·√k) instead of O(n·k) when k grows ∝ corpus (flat
    training measured O(n²) in the r8 scale probe; the two-level probe
    family measures this fix). HASH-GATED since late r8: exact=True
    (decimal-exact arithmetic end-to-end, incl. the sampled-training
    path) is unrolled as the kind='semdedup2' rows of the
    pairwise_topk_per_label oracle; behavior additionally pinned by
    tests (full assignment coverage, within-cell confinement,
    pure-python dup-set recomputation)."""
    fine, coarse = kmeans_centroids_two_level(
        emb, n_coarse=n_coarse, n_fine=n_fine, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col, train_mod=train_mod, exact=exact)
    if n_assign <= 1:
        asg = ivf_assign_two_level(emb, coarse, fine, id_col=id_col,
                                   vec_col=vec_col, exact=exact)
        return _mark_semantic_dups(asg, threshold, exact)
    # n_assign > 1 (r11): same counter to the leaf-confinement miss
    # mode as flat semantic_dedup — extra leaf assignments within the
    # coarse cell generate candidate pairs only; output rows and the
    # primary centroid_id are unchanged
    multi = ivf_assign_two_level(emb, coarse, fine, id_col=id_col,
                                 vec_col=vec_col, exact=exact,
                                 n_assign=n_assign).localCheckpoint()
    asg = (multi.filter(F.col("assign_rank") == 1)
           .select("id", "vec", "centroid_id"))
    pair_asg = multi.select("id", "vec", "centroid_id")
    return _mark_semantic_dups(asg, threshold, exact,
                               pair_asg=pair_asg)


def _ranked_assign(emb: DataFrame, cents: DataFrame, n_assign: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   exact: bool = False) -> DataFrame:
    """(id, vec, centroid_id, assign_rank): each vector's n_assign
    nearest centroids, rank 1 = primary. The window tie-break (sim
    desc, centroid_id asc) is ivf_assign's exactly, so rank-1 rows ==
    ivf_assign output — the multi-assignment generalization every
    n_assign consumer (batch SemDeDup, the pairwise_topk_per_label gate)
    shares."""
    from pyspark.sql import Window
    dot = _exact_dot_sql if exact else _fast_dot_sql
    # r13 norm hoist (see _with_norm): each vector's norm once per row,
    # each centroid's once per broadcast row — not once per (vector,
    # centroid) score; bit-identical sim values, same tie-break.
    emb_n = _with_norm(emb, vec_col, dot, out="__nv")
    cents_n = _with_norm(cents, "c_vec", dot, out="__nc")
    scored = (emb_n.crossJoin(F.broadcast(cents_n))
              .selectExpr(f"{id_col} AS id", f"{vec_col} AS vec",
                          "centroid_id",
                          f"{dot(vec_col, 'c_vec')} / (__nv * __nc) AS sim"))
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                         F.col("centroid_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_assign)
            .select("id", "vec", "centroid_id",
                    F.col("rn").alias("assign_rank")))


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN for 100 TB embedding corpora
# --------------------------------------------------------------------------
#
# float32 embeddings at 100 TB do not fit hot storage for scanning; PQ
# (the public technique of Jégou/Douze/Schmid, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011) stores each vector as n_subs
# small codes (4 bits each at n_codes=16 — a 64-dim float32 vector
# compresses 256 bytes -> 8 codes) and scores queries against the codes
# via per-subspace lookup tables (asymmetric distance computation, ADC),
# with an exact re-rank of the short candidate list against the original
# vectors.
# Vectors are L2-NORMALIZED before training/encoding, so squared-L2 ADC
# ranking is monotone in cosine (||a-b||^2 = 2 - 2cos for unit vectors)
# and the re-rank metric agrees with the coarse metric.


def _unit(vec: str) -> Column:
    """L2-normalized copy of an array<float/double> column (double)."""
    n = F.expr(f"sqrt({_fast_dot_sql(vec, vec)})")
    return F.transform(vec, lambda x: x.cast("double") / n)


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def _pq_subvectors(emb: DataFrame, n_subs: int, dim: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """(id, sub_id, sv): each normalized vector split into n_subs
    contiguous subvectors of dim/n_subs components."""
    if dim % n_subs:
        raise ValueError(f"dim {dim} not divisible by n_subs {n_subs}")
    d = dim // n_subs
    unit = emb.select(F.col(id_col).alias("id"),
                      _unit(vec_col).alias("u"))
    return unit.select(
        "id",
        F.posexplode(F.array(*[
            F.slice("u", j * d + 1, d) for j in range(n_subs)
        ])).alias("sub_id", "sv"))


def _pq_assign(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest-codeword assignment: (id, sub_id, code, sv). Broadcast the
    tiny codebook table; argmin via a narrow window over n_codes rows."""
    from pyspark.sql import Window
    scored = (subs.join(F.broadcast(codebooks), "sub_id")
              .withColumn("__d", _l2sq(F.col("sv"), F.col("c_vec"))))
    w = Window.partitionBy("id", "sub_id").orderBy(
        F.col("__d").asc(), F.col("code").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "sub_id", "code", "sv"))


def pq_train(emb: DataFrame, n_subs: int = 8, n_codes: int = 16,
             n_iters: int = 3, dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Per-subspace Lloyd's k-means codebooks: (sub_id, code, c_vec).

    All subspaces train in ONE DataFrame per iteration (the subvector
    explode carries sub_id, so assignment and the centroid update group by
    it — no per-subspace driver loop). Deterministic: seeds are the first
    n_codes vectors by id, ties break on code id, and only the tiny
    codebook table (n_subs x n_codes rows) is collected between
    iterations."""
    from pyspark.sql import Window
    spark = emb.sparkSession
    subs = _pq_subvectors(emb, n_subs, dim, id_col, vec_col)
    seed_subs = _pq_subvectors(
        emb.orderBy(F.col(id_col).asc()).limit(n_codes),
        n_subs, dim, id_col, vec_col)
    wcode = Window.partitionBy("sub_id").orderBy("id")
    cb = (seed_subs.withColumn("code", F.row_number().over(wcode) - 1)
          .select("sub_id", "code", F.col("sv").alias("c_vec")))
    cb = spark.createDataFrame(cb.collect(), "sub_id int, code int, "
                               "c_vec array<double>")
    for _ in range(n_iters):
        assigned = _pq_assign(subs, cb)
        means = (assigned.select("sub_id", "code",
                                 F.posexplode("sv").alias("pos", "x"))
                 .groupBy("sub_id", "code", "pos")
                 .agg(F.avg("x").alias("m")))
        new_cb = (means.groupBy("sub_id", "code")
                  .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                       .alias("pm"))
                  .select("sub_id", "code",
                          F.transform("pm", lambda s: s["m"]).alias("c_vec")))
        # empty codewords (no assignments) keep their previous position
        kept = cb.alias("o").join(
            new_cb.select("sub_id", "code").alias("n"),
            ["sub_id", "code"], "left_anti")
        cb = spark.createDataFrame(
            new_cb.collect() + kept.collect(), new_cb.schema)
    return cb


def pq_encode(emb: DataFrame, codebooks: DataFrame, n_subs: int = 8,
              dim: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes): each vector as an array<int> of n_subs codeword ids —
    the compressed representation that replaces the floats at rest."""
    subs = _pq_subvectors(emb, n_subs, dim, id_col, vec_col)
    assigned = _pq_assign(subs, codebooks)
    return (assigned.groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("sub_id", "code")))
                 .alias("sc"))
            .select("id", F.transform("sc", lambda s: s["code"])
                    .alias("codes")))


def pq_topk(emb: DataFrame, query_df: DataFrame, k: int = 10,
            n_subs: int = 8, n_codes: int = 16, dim: int = 64,
            rerank_factor: int = 4, codebooks: DataFrame | None = None,
            codes: DataFrame | None = None, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """PQ-ANN top-k: ADC coarse ranking over the compressed codes, exact
    decimal-cosine re-rank of the top k*rerank_factor candidates against
    the ORIGINAL vectors.

    Scale shape: the per-query distance table (n_subs x n_codes rows) is a
    broadcast; coarse scoring is one equi-join of the exploded codes
    against it plus a map-side-combinable sum — the float vectors are
    touched only for the tiny re-rank set. Pass precomputed `codebooks` /
    `codes` to amortize training and encoding across queries (the
    at-rest index form)."""
    cb = codebooks if codebooks is not None else pq_train(
        emb, n_subs, n_codes, dim=dim, id_col=id_col, vec_col=vec_col)
    enc = codes if codes is not None else pq_encode(
        emb, cb, n_subs, dim=dim, id_col=id_col, vec_col=vec_col)

    d = dim // n_subs
    qsubs = (query_df.select(_unit("q_vec").alias("qu"))
             .select(F.posexplode(F.array(*[
                 F.slice("qu", j * d + 1, d) for j in range(n_subs)
             ])).alias("sub_id", "qv")))
    table = (cb.join(F.broadcast(qsubs), "sub_id")
             .select("sub_id", "code",
                     _l2sq(F.col("c_vec"), F.col("qv")).alias("dist")))

    coarse = (enc.select("id", F.posexplode("codes").alias("sub_id", "code"))
              .join(F.broadcast(table), ["sub_id", "code"])
              .groupBy("id")
              .agg(F.sum("dist").alias("adc")))
    cand = (coarse.orderBy(F.col("adc").asc(), F.col("id").asc())
            .limit(k * rerank_factor))

    originals = emb.select(F.col(id_col).alias("id"),
                           F.col(vec_col).alias("v"))
    rer = (cand.join(originals, "id").crossJoin(F.broadcast(query_df))
           .select(F.col("id").alias(id_col),
                   F.expr(cosine_sql("v", "q_vec")).alias("cosine")))
    return rer.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ivf_pq_index_write(emb: DataFrame, path: str, n_centroids: int = 16,
                       n_subs: int = 8, n_codes: int = 16, dim: int = 64,
                       train_iters: int = 2, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> None:
    """IVF-PQ index: the coarse IVF layout (hive-partitioned by
    centroid_id — probes prune at file listing) with PQ CODES stored in
    the hot lists and the float vectors in a separate cold table fetched
    only for re-rank. This is the composition that survives 100 TB: the
    probed scan reads n_probe/n_centroids of a 16x-compressed table, and
    floats are touched per-candidate, not per-scan.

    Layout under `path`: vectors/ (centroid_id-partitioned: id, codes),
    floats/ (id, vec — re-rank fetch), centroids/, pq_codebooks/, meta/.
    """
    cents = kmeans_centroids(emb, n_centroids, train_iters, id_col, vec_col)
    cb = pq_train(emb, n_subs, n_codes, dim=dim,
                  id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col, centroids=cents)
    codes = pq_encode(emb, cb, n_subs, dim=dim,
                      id_col=id_col, vec_col=vec_col)
    (assigned.select("id", "centroid_id").join(codes, "id")
     .write.mode("overwrite").partitionBy("centroid_id")
     .parquet(path + "/vectors"))
    (emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
     .write.mode("overwrite").parquet(path + "/floats"))
    cents.write.mode("overwrite").parquet(path + "/centroids")
    cb.write.mode("overwrite").parquet(path + "/pq_codebooks")
    spark = emb.sparkSession
    spark.createDataFrame([(n_subs, n_codes, dim)],
                          "n_subs int, n_codes int, dim int") \
        .coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def ivf_pq_index_append(spark, emb_new: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """Incrementally add vectors to a persisted IVF-PQ index: assign the
    NEW vectors against the SAVED centroids and encode them with the
    SAVED codebooks (both geometries are immutable between re-trains —
    an append must neither move existing lists nor re-quantize existing
    codes), then append codes into the matching centroid_id partitions
    and floats into the cold re-rank table. Cost ∝ the new batch; the
    existing index is never read or rewritten. Full rebuild
    (ivf_pq_index_write) remains the periodic compaction path."""
    meta = spark.read.parquet(path + "/meta").head()
    n_subs, dim = meta["n_subs"], meta["dim"]
    saved = spark.read.parquet(path + "/centroids")
    rows = saved.collect()                       # tiny; pin as a literal
    cents = spark.createDataFrame(rows, saved.schema)
    cb = spark.read.parquet(path + "/pq_codebooks")
    assigned = ivf_assign(emb_new, len(rows), id_col, vec_col,
                          centroids=cents)
    codes = pq_encode(emb_new, cb, int(n_subs), dim=int(dim),
                      id_col=id_col, vec_col=vec_col)
    (assigned.select("id", "centroid_id").join(codes, "id")
     .write.mode("append").partitionBy("centroid_id")
     .parquet(path + "/vectors"))
    (emb_new.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
     .write.mode("append").parquet(path + "/floats"))


def ivf_pq_probe_topk(spark, path: str, query_df: DataFrame, k: int = 10,
                      n_probe: int = 4, rerank_factor: int = 4,
                      id_col: str = "vec_id") -> DataFrame:
    """Query an IVF-PQ index: centroid scoring (tiny) -> partition-pruned
    scan of the probed lists' CODES -> broadcast ADC table join + sum ->
    exact cosine re-rank of k*rerank_factor candidates against the cold
    float table (point-lookup join by id)."""
    meta = spark.read.parquet(path + "/meta").head()
    n_subs, dim = meta["n_subs"], meta["dim"]
    d = dim // n_subs

    cents = spark.read.parquet(path + "/centroids")
    probe = (cents.crossJoin(F.broadcast(query_df))
             .select("centroid_id",
                     F.expr(cosine_sql("c_vec", "q_vec")).alias("sim"))
             .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
             .limit(n_probe))
    lists = [r["centroid_id"] for r in probe.collect()]

    cb = spark.read.parquet(path + "/pq_codebooks")
    qsubs = (query_df.select(_unit("q_vec").alias("qu"))
             .select(F.posexplode(F.array(*[
                 F.slice("qu", j * d + 1, d) for j in range(n_subs)
             ])).alias("sub_id", "qv")))
    table = (cb.join(F.broadcast(qsubs), "sub_id")
             .select("sub_id", "code",
                     _l2sq(F.col("c_vec"), F.col("qv")).alias("dist")))

    probed = (spark.read.parquet(path + "/vectors")
              .filter(F.col("centroid_id").isin(lists)))
    coarse = (probed.select("id", F.posexplode("codes")
                            .alias("sub_id", "code"))
              .join(F.broadcast(table), ["sub_id", "code"])
              .groupBy("id").agg(F.sum("dist").alias("adc")))
    cand = (coarse.orderBy(F.col("adc").asc(), F.col("id").asc())
            .limit(k * rerank_factor))

    floats = spark.read.parquet(path + "/floats")
    rer = (cand.join(floats, "id").crossJoin(F.broadcast(query_df))
           .select(F.col("id").alias(id_col),
                   F.expr(cosine_sql("vec", "q_vec")).alias("cosine")))
    return rer.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# ===========================================================================
# Scalar quantization (SQ8) — int8-range codes, asymmetric scoring + rescore
# ===========================================================================

#: Asymmetric SQ8 score of float query `qd` against a row's int8 `codes`.
_SQ8_APPROX_SQL = f"scale * {_fast_dot_sql('qd', 'codes')} AS approx"


def sq8_encode(emb: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding",
               carry: tuple[str, ...] = ()) -> DataFrame:
    """Scalar-quantize float vectors to int8-range codes:
    code_i = floor(((x_i * 127) / max|x|) + 0.5), per-vector scale
    = max|x| / 127 reconstructs x_i ~= code_i * scale.

    Scale rationale: at 100 TB the ANN scan cost is BYTES READ — int8
    codes are 1/4 of float32 (1/8 of the double the scorer would widen
    to), so a codes-only hot table cuts the scan by 4x while the exact
    rescore touches only the top candidates' float rows (same
    codes-hot/floats-cold split as the PQ index, but with a
    training-free, per-vector-exact codec; PQ compresses harder, SQ8
    reconstructs tighter and needs no codebook maintenance).

    Cross-engine determinism (the kind='sq8' gate row in dedup_exact):
    every operation is IEEE double arithmetic with a pinned expression
    tree — abs/max in float (exactly widened), one multiply, one divide,
    one add, floor — so DuckDB rederives bit-identical integer codes
    from the same parquet with NO shared literals. floor(v + 0.5) is
    round-half-away-from-zero for v >= 0 and half-toward-+inf for v < 0,
    identically in both engines (python twin: math.floor).
    All-zero vectors quantize to all-zero codes (guarded division).
    """
    maxabs = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x))).cast("double")
    enc = emb.withColumn("__maxabs", maxabs)
    code = lambda x: (
        F.when(F.col("__maxabs") == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(
            ((x.cast("double") * F.lit(127.0)) / F.col("__maxabs"))
            + F.lit(0.5)))).cast("int")
    return enc.select(
        F.col(id_col).alias("id"),
        (F.col("__maxabs") / F.lit(127.0)).alias("scale"),
        F.transform(F.col(vec_col), code).alias("codes"),
        *[F.col(c) for c in carry])


def _require_single_query(query_df: DataFrame) -> None:
    """Guard for topk entry points whose candidate stage takes ONE
    global limit: a multi-row query_df would mix candidates across
    queries (r8 advice item). limit(2).count() is metadata-cheap —
    the query frame is driver-built and broadcast-sized by contract."""
    n = query_df.limit(2).count()
    if n != 1:
        raise ValueError(
            f"query_df must contain exactly one query vector (got "
            f"{'>=2' if n > 1 else n}): the candidate top-k is a single "
            "global limit; use the batched multi-query entry points "
            "(sq8_topk_batch / ivf_sq_probe_topk_batch, or "
            "bm25_topk_indexed for text), or run queries in a loop.")


def sq8_topk(emb: DataFrame, query_df: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             rerank_factor: int = 4) -> DataFrame:
    """ANN top-k via SQ8: ASYMMETRIC scoring (the query stays float —
    quantizing it too would double the error for zero byte savings):

        approx = scale_doc * sum_i q_i * code_i  ~=  dot(q, x_doc)

    computed with the codegen'd `_fast_dot_sql` over the codes array; the
    top k*rerank_factor candidates are rescored with the exact decimal
    cosine and deterministically re-ranked. Candidate selection is a
    TakeOrderedAndProject (no global sort); the rescore join touches
    only the candidate ids' float vectors.

    Unlike LSH/IVF this scans EVERY code row (no pruning) — the win is
    bytes-per-row, not rows; compose with the IVF list layout when both
    levers are needed (prune lists, scan codes).

    SINGLE-QUERY contract (r8 advice item): query_df must hold exactly
    one query vector — the candidate stage takes ONE global
    top-(k*rerank_factor), so several query rows would compete for one
    candidate pool and silently starve each other. Enforced with a
    metadata-cheap count; loop (or use the BM25 side's batched pattern)
    for multi-query workloads.
    """
    _require_single_query(query_df)
    enc = sq8_encode(emb, id_col, vec_col)
    qd = query_df.select(F.col("q_vec").cast("array<double>").alias("qd"))
    approx = (enc.crossJoin(F.broadcast(qd))
              .selectExpr("id", _SQ8_APPROX_SQL))
    cand = (approx.orderBy(F.col("approx").desc(), F.col("id").asc())
            .limit(k * rerank_factor))
    rer = (cand.join(emb.select(F.col(id_col).alias("id"), vec_col), "id")
           .crossJoin(F.broadcast(query_df))
           .select(F.col("id").alias(id_col),
                   F.expr(cosine_sql(vec_col, "q_vec")).alias("cosine")))
    return rer.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def _sq8_batch_rank(approx: DataFrame, floats: DataFrame,
                    query_df: DataFrame, k: int, rerank_factor: int,
                    id_col: str) -> DataFrame:
    """Shared tail of the batched SQ8 entry points: per-QUERY candidate
    window (rank <= k*rerank_factor over the asymmetric score), exact
    decimal-cosine rescore of only the candidate ids, per-query final
    rank <= k. Windows partition by query_id — parallel in query count,
    never a global sort (the bm25_topk_batch shape). `approx` carries
    (query_id, id, approx); `floats` carries (id, vec)."""
    from pyspark.sql import Window
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("id").asc())
    cand = (approx.withColumn("__r", F.row_number().over(w1))
            .filter(F.col("__r") <= k * rerank_factor)
            .select("query_id", "id"))
    rer = (cand.join(floats, "id")
           .join(F.broadcast(query_df.select("query_id", "q_vec")),
                 "query_id")
           .select("query_id", F.col("id").alias(id_col),
                   F.expr(cosine_sql("vec", "q_vec")).alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (rer.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "cosine",
                    F.col("rank").cast("long").alias("rank")))


def sq8_topk_batch(emb: DataFrame, query_df: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   rerank_factor: int = 4) -> DataFrame:
    """Score MANY query vectors in ONE pass over the SQ8 codes — the
    shape that amortizes at 100 TB (per-query calls rescan the code
    table once per query; a batched audit scans it once, full stop).
    query_df carries (query_id string, q_vec array): all queries
    broadcast together, the single code scan joins against them, and
    candidate selection is a window PARTITIONED BY QUERY (rank <=
    k*rerank_factor) — parallel in query count, never a global sort,
    so queries can't starve each other's candidate pools (the failure
    the single-query guard on `sq8_topk` exists to prevent). Returns
    (query_id, id, cosine, rank<=k); per-query results identical to a
    `sq8_topk` loop (pinned by test)."""
    enc = sq8_encode(emb, id_col, vec_col)
    qd = query_df.select(
        "query_id", F.col("q_vec").cast("array<double>").alias("qd"))
    approx = (enc.crossJoin(F.broadcast(qd))
              .selectExpr("query_id", "id", _SQ8_APPROX_SQL))
    floats = emb.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("vec"))
    return _sq8_batch_rank(approx, floats, query_df, k, rerank_factor,
                           id_col)


def ivf_sq_probe_topk_batch(spark, path: str, query_df: DataFrame,
                            k: int = 10, n_probe: int = 4,
                            rerank_factor: int = 4,
                            id_col: str = "vec_id") -> DataFrame:
    """Batched IVF x SQ8 probe: every query's n_probe nearest lists are
    resolved in one centroid pass (window per query over the tiny
    centroid x query cross), the codes scan prunes to the UNION of all
    probed lists at file listing, and a broadcast (query_id,
    centroid_id) join restricts each query to ITS lists within that
    scan — one partition-pruned pass serves the whole batch. Same
    output contract as `sq8_topk_batch`; per-query results identical
    to an `ivf_sq_probe_topk` loop (pinned by test)."""
    from pyspark.sql import Window
    base = fsutil.gen_resolve(spark, path)
    cents = spark.read.parquet(base + "/centroids")
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc())
    probe = (cents.crossJoin(F.broadcast(query_df))
             .select("query_id", "centroid_id",
                     F.expr(cosine_sql("c_vec", "q_vec")).alias("sim"))
             .withColumn("__r", F.row_number().over(wq))
             .filter(F.col("__r") <= n_probe)
             .select("query_id", "centroid_id"))
    pairs = probe.collect()         # queries x n_probe rows — tiny
    lists = sorted({r["centroid_id"] for r in pairs})
    pair_df = spark.createDataFrame(
        [(r["query_id"], r["centroid_id"]) for r in pairs],
        "query_id string, centroid_id int")
    qd = query_df.select(
        "query_id", F.col("q_vec").cast("array<double>").alias("qd"))
    codes = (spark.read.parquet(base + "/codes")
             .filter(F.col("centroid_id").isin([int(x) for x in lists]))
             .join(F.broadcast(pair_df), "centroid_id"))
    approx = (codes.join(F.broadcast(qd), "query_id")
              .selectExpr("query_id", "id", _SQ8_APPROX_SQL))
    floats = spark.read.parquet(base + "/floats")
    return _sq8_batch_rank(approx, floats, query_df, k, rerank_factor,
                           id_col)


def ivf_sq_index_write(emb: DataFrame, path: str, n_centroids: int = 16,
                       train_iters: int = 0, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       centroids: DataFrame | None = None) -> None:
    """IVF x SQ8 composed index — both 100 TB levers in one layout:
    the HOT table carries (id, scale, int8-range codes) hive-partitioned
    by centroid_id, so a probe (a) prunes to n_probe/n_centroids lists
    at FILE LISTING (PartitionFilters, the ivf_index_write story) and
    (b) scans 1/4-width code rows within them (the sq8_encode story);
    full floats live in a separate COLD table touched only for the
    k*rerank_factor exact rescore. PQ compresses harder (n_subs bytes);
    SQ8 rescores tighter and needs no codebook training/maintenance —
    the same trade as the unindexed variants, now with list pruning."""
    cents = centroids
    if cents is None:
        cents = (kmeans_centroids(emb, n_centroids, train_iters,
                                  id_col, vec_col)
                 if train_iters > 0
                 else _seed_centroids(emb, n_centroids, id_col, vec_col))
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col,
                          centroids=cents)
    codes = sq8_encode(assigned, id_col="id", vec_col="vec",
                       carry=("centroid_id",))
    (codes.write.mode("overwrite")
     .partitionBy("centroid_id").parquet(path + "/codes"))
    assigned.select("id", "vec").write.mode("overwrite") \
        .parquet(path + "/floats")
    cents.write.mode("overwrite").parquet(path + "/centroids")
    # Trained-size watermark for the re-train policy (footer-only count)
    spark = emb.sparkSession
    n = spark.read.parquet(path + "/codes").count()
    n_cent_actual = cents.count()
    spark.createDataFrame([(n, n_cent_actual)],
                          "n_at_train long, n_centroids int") \
        .coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def ivf_sq_probe_topk(spark, path: str, query_df: DataFrame, k: int = 10,
                      n_probe: int = 4, rerank_factor: int = 4,
                      id_col: str = "vec_id") -> DataFrame:
    """Query the IVF x SQ8 index: centroid probe (metadata-scale) ->
    partition-pruned code scan (asymmetric float-query x int-codes
    scoring) -> exact decimal-cosine rescore of the top
    k*rerank_factor ids from the cold float table.

    Same SINGLE-QUERY contract as `sq8_topk` (one global candidate
    limit); enforced below."""
    _require_single_query(query_df)
    base = fsutil.gen_resolve(spark, path)
    cents = spark.read.parquet(base + "/centroids")
    probe = (cents.crossJoin(F.broadcast(query_df))
             .select("centroid_id",
                     F.expr(cosine_sql("c_vec", "q_vec")).alias("sim"))
             .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
             .limit(n_probe))
    lists = [r["centroid_id"] for r in probe.collect()]
    qd = query_df.select(F.col("q_vec").cast("array<double>").alias("qd"))
    codes = (spark.read.parquet(base + "/codes")
             .filter(F.col("centroid_id").isin(lists)))
    approx = (codes.crossJoin(F.broadcast(qd))
              .selectExpr("id", _SQ8_APPROX_SQL))
    cand = (approx.orderBy(F.col("approx").desc(), F.col("id").asc())
            .limit(k * rerank_factor))
    floats = spark.read.parquet(base + "/floats")
    rer = (cand.join(floats, "id").crossJoin(F.broadcast(query_df))
           .select(F.col("id").alias(id_col),
                   F.expr(cosine_sql("vec", "q_vec")).alias("cosine")))
    return rer.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ivf_sq_index_append(spark, emb_new: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """Incrementally add vectors to a persisted IVF x SQ8 index: assign
    the NEW vectors against the SAVED centroids (list geometry is
    immutable between re-trains) and SQ8-encode them — the codec is
    per-vector (scale = that vector's own max|x|), so unlike PQ there is
    NO frozen codebook to respect: appended codes are exactly what a
    full rebuild would produce, and append == rebuild is testable
    bit-for-bit. Cost ∝ the new batch; the existing index is never read
    or rewritten."""
    base = fsutil.gen_resolve(spark, path)
    saved = spark.read.parquet(base + "/centroids")
    rows = saved.collect()                       # tiny; pin as a literal
    cents = spark.createDataFrame(rows, saved.schema)
    assigned = ivf_assign(emb_new, len(rows), id_col, vec_col,
                          centroids=cents)
    codes = sq8_encode(assigned, id_col="id", vec_col="vec",
                       carry=("centroid_id",))
    (codes.write.mode("append")
     .partitionBy("centroid_id").parquet(base + "/codes"))
    assigned.select("id", "vec").write.mode("append") \
        .parquet(base + "/floats")


def ivf_sq_index_maybe_retrain(spark, path: str,
                               growth_threshold: float = 0.5,
                               train_iters: int = 2,
                               max_list_share: float | None = None) -> bool:
    """Re-train policy for the IVF x SQ8 index — `ivf_index_maybe_retrain`
    with the SAME metadata-scale triggers (growth watermark from footers;
    opt-in max-list-share imbalance) and the same generation-pointer
    publish, but a strictly simpler rebuild: SQ8 has no codebook state to
    migrate and this layout has no delta partitions to fold (appends land
    directly in the centroid_id partitions), so the rebuild is a plain
    `ivf_sq_index_write` from the cold float table into the next
    generation, committed by one marker-file create. A pre-meta index
    (built before this policy) is treated as due. Returns True iff a
    re-train ran."""
    base = fsutil.gen_resolve(spark, path)
    codes = spark.read.parquet(base + "/codes")
    n_now = codes.count()
    try:
        meta = spark.read.parquet(base + "/meta").head()
        n_at_train, n_cent = meta["n_at_train"], meta["n_centroids"]
    except Exception:
        n_at_train, n_cent = None, None
    due = n_at_train is None
    if not due:
        due = (n_now - n_at_train) > growth_threshold * max(n_at_train, 1)
    if not due and max_list_share is not None:
        biggest = (codes.groupBy("centroid_id")
                   .agg(F.count("*").alias("n"))
                   .agg(F.max("n")).head()[0]) or 0
        due = biggest > max_list_share * max(n_now, 1)
    if not due:
        return False
    if n_cent is None:
        n_cent = spark.read.parquet(base + "/centroids").count()

    emb = spark.read.parquet(base + "/floats").select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
    build = fsutil.gen_begin(spark, path)
    ivf_sq_index_write(emb, build, n_centroids=int(n_cent),
                       train_iters=train_iters)
    fsutil.gen_commit(spark, build)
    fsutil.gen_gc(spark, path,
                  legacy_subs=("codes", "floats", "centroids", "meta"))
    return True
