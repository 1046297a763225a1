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

from ..session import materialize

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


def _with_norm(df: DataFrame, vec_col: str, out: str = "__n") -> DataFrame:
    """Append sqrt(dot(vec, vec)) as `out` — the per-row hoisted norm
    (r13). A cosine evaluates THREE array traversals per call (dot + both
    norms); every pair/assignment join in this module reuses each row's
    norm across many pairs, so it computes the norm here once per ROW, in
    a projection below the join, and scores pairs as
    dot(a, b) / (na * nb) — the same three sub-expressions combined by
    the same division/multiplication tree as `cosine_sql`, hence
    bit-identical values (nothing is reassociated; only the evaluation
    COUNT of each norm changes). Measured at sf0.1: semantic-dedup pair
    marking 6.2 -> 1.9 s (n_assign=1), 13.6 -> 4.7 s (n_assign=2).
    CollapseProject cannot re-inline the norm across the join boundary."""
    return df.withColumn(
        out, F.expr(f"sqrt({_exact_dot_sql(vec_col, vec_col)})"))


def brute_force_topk(emb: DataFrame, query_df: DataFrame) -> DataFrame:
    """Exact cosine top-10 of the embeddings against a 1-row query
    DataFrame (columns: q_vec). Broadcast the query; score every vector
    (one scan, no shuffle until the tiny top-k); deterministic tie-break
    on id.

    At 100 TB this is the exact baseline: a single pass with a
    TakeOrderedAndProject at the end — no global sort materialization.
    """
    scored = (
        emb.crossJoin(F.broadcast(query_df))
        .selectExpr("vec_id", f"{cosine_sql('embedding', 'q_vec')} AS cosine")
    )
    return scored.orderBy(F.col("cosine").desc(),
                          F.col("vec_id").asc()).limit(10)


#: Sign bits of the LSH bucket: the first 4 components, 16 buckets.
_LSH_BITS = 4


def sign_bucket(vec_col: Column) -> Column:
    """Random-hyperplane-style LSH bucket from the signs of the first
    `_LSH_BITS` components (deterministic; a production variant draws
    seeded hyperplanes — the bucketing/probing plumbing is identical)."""
    bucket = F.lit(0)
    for i in range(_LSH_BITS):
        bit = F.when(F.element_at(vec_col, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket.cast("int")


def lsh_topk(emb: DataFrame, query_df: DataFrame) -> DataFrame:
    """Approximate top-10: score only vectors in the query's 4 probe
    sign-buckets.

    Scale path: bucket is a pre-computable partition key (write the corpus
    bucketed-by `bucket` and the probe prunes to 4 of the 16 buckets).

    MULTI-PROBE (r8, the Lv et al. 2007 "Multi-Probe LSH" idea): besides
    the query's own bucket, probe the 3 neighboring buckets obtained by
    flipping the LEAST-CONFIDENT sign bits — the components with the
    smallest |value|, i.e. the hyperplanes the query sits closest to,
    exactly where a true neighbor most likely landed on the other side.
    Measured on the fixture (tools/recall_probe.py): recall@10 0.27
    single-probe -> 0.60 with the 4 probes. The probe table stays
    1-row-per-bucket and broadcast; candidate rows join each probe bucket
    at most once (probe buckets are distinct by construction), so no
    post-join dedup is needed."""
    bucketed = emb.withColumn("bucket", sign_bucket(F.col("embedding")))
    q = query_df.withColumn("q_bucket", sign_bucket(F.col("q_vec")))
    # (squared component, bit index, flipped bucket) per sign bit, sorted
    # ascending by the square (ties break on the bit index). Flipping bit
    # i toggles 1 << (_LSH_BITS-1-i) because sign_bucket makes component
    # 0 the MOST significant bit.
    flips = F.array(*[
        F.struct(
            F.pow(F.element_at(F.col("q_vec"), i + 1), F.lit(2)).alias("conf"),
            F.lit(i).alias("idx"),
            F.col("q_bucket").bitwiseXOR(
                F.lit(1 << (_LSH_BITS - 1 - i))).alias("b"))
        for i in range(_LSH_BITS)])
    near = F.slice(F.array_sort(flips), 1, 3)
    buckets = F.concat(F.array(F.col("q_bucket")),
                       F.transform(near, lambda s: s["b"]))
    probes = q.select("q_vec", F.explode(buckets).alias("p_bucket"))
    probed = bucketed.join(F.broadcast(probes),
                           F.col("bucket") == F.col("p_bucket"))
    scored = probed.select(
        F.col("vec_id"),
        F.expr(cosine_sql("embedding", "q_vec")).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(),
                          F.col("vec_id").asc()).limit(10)


def _seed_centroids(emb: DataFrame, n_centroids: int) -> DataFrame:
    return (emb.orderBy(F.col("vec_id").asc()).limit(n_centroids)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("c_vec")))


def _exact_mean() -> Column:
    """Engine-exact per-dimension centroid component of the `x` column
    (r10: floor-quantized longs, see _Q_SCALE — the mirrored decimal cast
    diverged on shortest-repr ties): decimal(38,0) accumulation keeps the
    sum exact past long range at corpus scale; the final double cast is
    correctly rounded identically in both engines. A sum, not a mean:
    cosine is scale-invariant, so sum and mean are interchangeable as
    directions, and no division means no summation-order dependence."""
    return (F.sum(_qprod(F.col("x").cast("double")).cast("decimal(38,0)"))
            .cast("double") / F.lit(_Q_SCALE)).alias("m")


def kmeans_centroids(emb: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Lloyd's k-means (2 iterations) over the `embedding` column,
    expressed as DataFrame ops.

    Per iteration: broadcast the centroid table, assign by max cosine
    (narrow window over n_centroids rows per vector), recompute centroids
    as per-dimension sums via posexplode + two map-side-combinable
    aggregations. Deterministic seed (first n vectors by id); each
    iteration materializes only the tiny centroid table on the driver —
    the corpus is scanned, never collected.

    The whole training is CROSS-ENGINE EXACT (the ann_ivf_topk oracle
    relies on it): assignment uses the decimal-exact ``_exact_dot_sql``
    and the centroid update keeps per-dimension DECIMAL SUMS cast to
    double (`_exact_mean`), so a SQL engine replaying the same iterations
    computes bit-identical centroids and assignments.
    """
    spark = emb.sparkSession
    cents = _seed_centroids(emb, n_centroids)
    cents = cents.select(
        "centroid_id",
        F.transform("c_vec", lambda x: x.cast("double")).alias("c_vec"))
    from pyspark.sql import Window
    # r13 norm hoist (see _with_norm): bit-identical sim values, each
    # side's norm evaluated per row instead of per (vector, centroid)
    emb_n = _with_norm(emb, "embedding", out="__nv")
    sim = f"{_exact_dot_sql('embedding', 'c_vec')} / (__nv * __nc) AS sim"
    for _ in range(2):
        cents_n = _with_norm(cents, "c_vec", out="__nc")
        scored = (emb_n.crossJoin(F.broadcast(cents_n))
                  .selectExpr("vec_id AS id", "embedding AS vec",
                              "centroid_id", sim))
        w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                             F.col("centroid_id").asc())
        assigned = (scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1))
        dims = assigned.select(
            "centroid_id", F.posexplode("vec").alias("pos", "x"))
        means = dims.groupBy("centroid_id", "pos").agg(_exact_mean())
        new_cents = (means.groupBy("centroid_id")
                     .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                          .alias("pm"))
                     .select("centroid_id",
                             F.transform("pm", lambda s: s["m"].cast("double"))
                             .alias("c_vec")))
        # Materialize the tiny centroid table between iterations: chaining
        # the plans lazily makes iteration i embed (and RE-EXECUTE) the
        # whole history of iterations < i on every downstream action.
        cents = spark.createDataFrame(new_cents.collect(), new_cents.schema)
    return cents


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid of the `centroids` table (from `kmeans_centroids`) by
    decimal-exact cosine. The plan shape: tiny broadcast centroid table,
    one scored pass, per-vector argmax via a narrow window over the
    centroid rows. Output: (id, vec, centroid_id).
    """
    # delegate to the shared ranked-assignment helper at width 1 (r13
    # review: two verbatim copies of the scored-window block let a
    # future edit to one silently break the rank-1 == ivf_assign parity
    # the multi-assign semantic_dedup depends on)
    return _ranked_assign(emb, centroids, 1).drop("assign_rank")


def ivf_topk(emb: DataFrame, query_df: DataFrame,
             centroids: DataFrame) -> DataFrame:
    """IVF-probed approximate top-10: score the query against the
    centroid table (tiny), probe the 4 nearest inverted lists,
    brute-force only within them. The 100 TB pattern: centroid scoring
    is driver-scale, list probing is partition pruning, and the final
    scan touches 4/n_centroids of the corpus."""
    assigned = ivf_assign(emb, centroids)
    probe = (centroids.crossJoin(F.broadcast(query_df))
             .select("centroid_id",
                     F.expr(cosine_sql("c_vec", "q_vec")).alias("sim"))
             .orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
             .limit(4)
             .select("centroid_id"))
    probed = assigned.join(F.broadcast(probe), "centroid_id")
    scored = (probed.crossJoin(F.broadcast(query_df))
              .select(F.col("id").alias("vec_id"),
                      F.expr(cosine_sql("vec", "q_vec")).alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(),
                          F.col("vec_id").asc()).limit(10)


def pairwise_topk_per_label(emb: DataFrame) -> DataFrame:
    """Within-label all-pairs cosine, top-3 pairs per label — the blocked
    (grouped) form of pairwise similarity: the equi-join on label confines
    the quadratic term to label groups."""
    a = emb.select(F.col("label").alias("lbl"), F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("label").alias("lbl"), F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    pairs = a.join(b, "lbl").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select("lbl", "id_a", "id_b",
                          F.expr(cosine_sql("va", "vb")).alias("cosine"))
    from pyspark.sql import Window
    w = Window.partitionBy("lbl").orderBy(F.col("cosine").desc(),
                                          F.col("id_a").asc(), F.col("id_b").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("lbl", "id_a", "id_b", "cosine", "rank"))


def semantic_dedup(ranked: DataFrame, n_assign: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space (centroids from `kmeans_centroids`), then mark
    semantic duplicates WITHIN each cluster — a vector is a duplicate iff
    some lower-id vector in its cluster has cosine >= 0.4 (deterministic
    min-id-wins representative; the paper keeps the member farthest from
    the centroid — an arbitrary choice there, pinned here to ids so
    reruns and the SQL oracle agree).

    Output: (id, centroid_id, is_dup). Scale shape: the clustering
    confines the quadratic term to clusters (the paper's own argument) —
    at 100 TB, n_centroids grows ∝ corpus so per-cluster membership
    stays bounded, the pair join is an equi-join on centroid_id, and
    nothing all-pairs ever forms. Pair scoring is decimal-exact cosine,
    like the training, for cross-engine gates.

    n_assign > 1 (r11) additionally compares pairs sharing ANY of each
    vector's n_assign nearest centroids — the cheap counter to the
    confinement miss mode (a near-dup pair split across a cluster
    boundary is invisible at n_assign=1; the recall probe measured
    0.32 at eps=0.4 on unclustered embeddings). Pair cost rises by at
    most n_assign^2 (~n_assign in practice); output rows, centroid_id
    (the PRIMARY assignment) and min-id-wins semantics are unchanged —
    extra assignments only GENERATE candidate pairs.

    `ranked` (r14, guide §5 "cache what is reused") is the caller's
    `materialize`d `_ranked_assign(emb, cents, >= n_assign)` table, so
    callers that run several n_assign variants over the SAME corpus and
    centroids (the pairwise_topk_per_label gate runs n_assign=1 and 2)
    pay the broadcast-centroid scoring scan once. Rank-k rows of a wider
    table are identical to a narrower run's by the window's own
    definition (rn <= n filtered to rn <= m == rn <= m), and rank-1 rows
    are ivf_assign's — pinned by
    test_semantic_dedup_shared_ranked_bit_equal.
    """
    asg = (ranked.filter(F.col("assign_rank") == 1)
           .select("id", "vec", "centroid_id"))
    if n_assign <= 1:
        return _mark_semantic_dups(asg)
    pair_asg = (ranked.filter(F.col("assign_rank") <= n_assign)
                .select("id", "vec", "centroid_id"))
    return _mark_semantic_dups(asg, pair_asg=pair_asg)


def _mark_semantic_dups(asg: DataFrame,
                        pair_asg: DataFrame | None = None) -> DataFrame:
    """Min-id-wins duplicate marking over an (id, vec, centroid_id)
    assignment: is_dup iff some lower-id vector in the SAME cluster has
    engine-exact cosine >= 0.4. Shared by the flat and two-level
    SemDeDup. `pair_asg` optionally supplies a WIDER (multi-assignment)
    table for candidate-pair generation only — base rows still come from
    `asg`. The assignment feeds THREE plan branches (both self-join
    sides + the output base), so both frames must read a materialized
    table: a lazy one would re-run the assignment (broadcast-centroid
    scan + per-id window) once per branch (review finding)."""
    # norm-hoisted pair scoring (see _with_norm)
    src = _with_norm(asg if pair_asg is None else pair_asg, "vec")
    a = src.select(F.col("centroid_id"), F.col("id").alias("id_a"),
                   F.col("vec").alias("va"), F.col("__n").alias("na"))
    b = src.select(F.col("centroid_id"), F.col("id").alias("id_b"),
                   F.col("vec").alias("vb"), F.col("__n").alias("nb"))
    score = F.expr(f"{_exact_dot_sql('va', 'vb')} / (na * nb)")
    dup_ids = (a.join(b, "centroid_id")
               .filter(F.col("id_b") < F.col("id_a"))
               .filter(score >= 0.4)
               .select(F.col("id_a").alias("id")).distinct())
    return (asg.join(dup_ids.withColumn("__d", F.lit(True)), "id", "left")
            .select("id", "centroid_id",
                    F.coalesce("__d", F.lit(False)).alias("is_dup")))


def kmeans_centroids_two_level(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Hierarchical (two-level) k-means: 4 top-level centroids, then 4
    fine centroids per coarse cell — 16 leaf cells total, trained at
    O(n*(n_coarse + n_fine)) assignment cost instead of flat Lloyd's
    O(n * k). This is the 100 TB SemDeDup shape the r8 scale probe
    motivated (flat training with k ∝ corpus bent the curve to O(n²); see
    docs/SCALE.md): with n_coarse ≈ n_fine ≈ √k, every scan compares each
    vector against √k candidates, so doubling BOTH levels quadruples the
    leaf count for 2× the per-vector work.

    Training hash-samples the corpus (keep ids with id % 2 == 0;
    deterministic, rerun-stable) — the standard big-data k-means
    practice: centroid quality needs a representative sample, not every
    row; assignment still covers the full corpus.

    Per fine iteration (2 of them): the fine-centroid table is broadcast
    and joined ON coarse_id — each vector scores only its own cell's
    n_fine candidates (never the full k). Centroid updates are the same
    per-dimension exact sums as flat Lloyd; only the (k-sized) centroid
    table is ever collected.

    Returns (fine, coarse): fine = (coarse_id, fine_id, centroid_id,
    c_vec) with centroid_id = coarse_id * 4 + fine_id (the leaf-cell
    id), coarse = the (centroid_id, c_vec) top level. A coarse cell that
    captured no training members (possible under the sampling) falls
    back to the coarse centroid itself as its single fine centroid, so
    full-corpus assignment can never drop a vector.

    Both levels mirror kmeans_centroids (decimal-exact cosine
    assignment; per-dimension decimal sums cast to double, no division;
    double element type end-to-end), so a SQL engine unrolling the same
    chain computes bit-identical leaf cells — the pairwise_topk_per_label
    kind='semdedup2' oracle relies on it.
    """
    from pyspark.sql import Window
    spark = emb.sparkSession
    train = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    coarse = kmeans_centroids(train, n_centroids=4)
    asg1 = ivf_assign(train, coarse) \
        .select("id", "vec", F.col("centroid_id").alias("coarse_id"))
    # training scans the sample 2*n_iters+1 times — cut the lineage once
    asg1 = materialize(asg1, "kmeans_centroids_two_level: coarse assignment")
    # deterministic seeds: first 4 member vectors per coarse cell
    wseed = Window.partitionBy("coarse_id").orderBy(F.col("id").asc())
    fine = (asg1.withColumn("rn", F.row_number().over(wseed))
            .filter(F.col("rn") <= 4)
            .select("coarse_id", (F.col("rn") - 1).alias("fine_id"),
                    F.transform("vec", lambda x: x.cast("double"))
                    .alias("c_vec")))
    # r13 norm hoist (see _with_norm): bit-identical sim values
    asg1_n = _with_norm(asg1, "vec", out="__nv")
    sim = f"{_exact_dot_sql('vec', 'c_vec')} / (__nv * __nc) AS sim"
    for _ in range(2):
        fine_n = _with_norm(fine, "c_vec", out="__nc")
        scored = (asg1_n.join(F.broadcast(fine_n), "coarse_id")
                  .selectExpr("coarse_id", "id", "vec", "fine_id", sim))
        w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                             F.col("fine_id").asc())
        assigned = (scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1))
        dims = assigned.select(
            "coarse_id", "fine_id", F.posexplode("vec").alias("pos", "x"))
        means = dims.groupBy("coarse_id", "fine_id", "pos").agg(_exact_mean())
        new_fine = (means.groupBy("coarse_id", "fine_id")
                    .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                         .alias("pm"))
                    .select("coarse_id", "fine_id",
                            F.transform("pm", lambda s: s["m"]
                                        .cast("double")).alias("c_vec")))
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
        F.transform("c_vec", lambda x: x.cast("double")).alias("c_vec"))
    fine = fine.unionByName(fallback)
    return (fine.withColumn(
        "centroid_id",
        (F.col("coarse_id") * 4 + F.col("fine_id")).cast("int"))
        .select("coarse_id", "fine_id", "centroid_id", "c_vec"), coarse)


def ivf_assign_two_level(emb: DataFrame, coarse: DataFrame,
                         fine: DataFrame) -> DataFrame:
    """Assign every vector to its leaf cell through the hierarchy:
    nearest coarse centroid (broadcast scan over n_coarse), then nearest
    fine centroid WITHIN that cell (broadcast join on coarse_id over
    n_fine candidates), both by decimal-exact cosine. Output: (id, vec,
    centroid_id) — the same contract as flat ivf_assign, at
    O(n_coarse + n_fine) comparisons per vector."""
    from pyspark.sql import Window
    asg1 = ivf_assign(emb, coarse) \
        .select("id", "vec", F.col("centroid_id").alias("coarse_id"))
    # r13 norm hoist (see _with_norm): bit-identical sim values
    asg1_n = _with_norm(asg1, "vec", out="__nv")
    fine_n = _with_norm(fine, "c_vec", out="__nc")
    scored = (asg1_n.join(F.broadcast(fine_n), "coarse_id")
              .selectExpr("id", "vec", "centroid_id",
                          f"{_exact_dot_sql('vec', 'c_vec')} "
                          "/ (__nv * __nc) AS sim"))
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                         F.col("centroid_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("id", "vec", "centroid_id"))


def semantic_dedup_two_level(emb: DataFrame) -> DataFrame:
    """SemDeDup over hierarchical leaf cells — the 100 TB variant: same
    min-id-wins duplicate semantics as `semantic_dedup`, but clustering
    cost is O(n·√k) instead of O(n·k) when k grows ∝ corpus (flat
    training measured O(n²) in the r8 scale probe; the two-level probe
    family measures this fix). HASH-GATED since late r8: the
    decimal-exact arithmetic end-to-end, incl. the sampled-training
    path, is unrolled as the kind='semdedup2' rows of the
    pairwise_topk_per_label oracle; behavior additionally pinned by
    tests (full assignment coverage, within-cell confinement,
    pure-python dup-set recomputation)."""
    fine, coarse = kmeans_centroids_two_level(emb)
    return _mark_semantic_dups(materialize(
        ivf_assign_two_level(emb, coarse, fine),
        "semantic_dedup_two_level: leaf assignment"))


def _ranked_assign(emb: DataFrame, cents: DataFrame,
                   n_assign: int) -> DataFrame:
    """(id, vec, centroid_id, assign_rank): each vector's n_assign
    nearest centroids by decimal-exact cosine, rank 1 = primary. The
    window tie-break (sim desc, centroid_id asc) is ivf_assign's exactly,
    so rank-1 rows == ivf_assign output — the multi-assignment
    generalization every n_assign consumer (batch SemDeDup, the
    pairwise_topk_per_label gate) shares."""
    from pyspark.sql import Window
    # r13 norm hoist (see _with_norm): each vector's norm once per row,
    # each centroid's once per broadcast row — not once per (vector,
    # centroid) score; bit-identical sim values, same tie-break.
    emb_n = _with_norm(emb, "embedding", out="__nv")
    cents_n = _with_norm(cents, "c_vec", out="__nc")
    scored = (emb_n.crossJoin(F.broadcast(cents_n))
              .selectExpr("vec_id AS id", "embedding AS vec",
                          "centroid_id",
                          f"{_exact_dot_sql('embedding', 'c_vec')} "
                          "/ (__nv * __nc) AS sim"))
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(),
                                         F.col("centroid_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_assign)
            .select("id", "vec", "centroid_id",
                    F.col("rn").alias("assign_rank")))


# ===========================================================================
# Scalar quantization (SQ8) — int8-range codes
# ===========================================================================


def sq8_encode(emb: DataFrame) -> DataFrame:
    """Scalar-quantize float vectors to int8-range codes:
    code_i = floor(((x_i * 127) / max|x|) + 0.5), per-vector scale
    = max|x| / 127 reconstructs x_i ~= code_i * scale.

    Scale rationale: int8 codes are 1/4 of float32, and the codec is
    training-free and per-vector exact (no codebook to maintain).

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
        F.transform(F.col("embedding"), lambda x: F.abs(x))).cast("double")
    enc = emb.withColumn("__maxabs", maxabs)
    code = lambda x: (
        F.when(F.col("__maxabs") == 0.0, F.lit(0).cast("long"))
        .otherwise(F.floor(
            ((x.cast("double") * F.lit(127.0)) / F.col("__maxabs"))
            + F.lit(0.5)))).cast("int")
    return enc.select(
        F.col("vec_id").alias("id"),
        (F.col("__maxabs") / F.lit(127.0)).alias("scale"),
        F.transform(F.col("embedding"), code).alias("codes"))
