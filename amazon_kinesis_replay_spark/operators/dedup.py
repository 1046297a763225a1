"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, n-gram Jaccard, MinHash+LSH, SimHash. All JVM-side column
expressions (no Python UDFs): shingling via split/transform, hashing via
xxhash64, LSH banding via groupBy on band buckets — every step is a
map-side-combinable aggregation or an equi-join, so the plans scale to
100 TB (the pairwise work is confined to LSH buckets, never a full
cross-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .scanwidth import widen_if_narrow
from .text import tokens_expr


def _bt(name: str) -> str:
    """Backtick-quote an identifier for interpolation into a parsed expr
    string (embedded backticks escaped by doubling) — public-API column
    names with spaces/hyphens/dots must resolve as plain identifiers,
    exactly as the pre-r13 F.col form did (r13 ADVICE)."""
    return f"`{name.replace('`', '``')}`"


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row id per exact key (hash-groupBy; one
    shuffle, map-side combine). Returns (keep_id, dup_count) per key group."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("dup_count"),
    ).select("keep_id", "dup_count")


# --------------------------------------------------------------------------
# Shingling
# --------------------------------------------------------------------------


def word_shingles_expr(c: str, k: int = 3) -> str:
    """Distinct word k-shingles of `c` (column name / SQL fragment) as an
    array — computed with transform over an index sequence, no explode
    needed until the op requires per-shingle rows. Documents shorter than
    k tokens yield their whole token string as the single shingle."""
    toks = tokens_expr(c)
    grams = (f"transform(sequence(0, greatest(size({toks}) - {k}, 0)), "
             f"i -> concat_ws(' ', slice({toks}, i + 1, {k})))")
    return (f"array_distinct(CASE WHEN size({toks}) >= {k} THEN {grams} "
            f"ELSE array(concat_ws(' ', {toks})) END)")


# --------------------------------------------------------------------------
# N-gram Jaccard (exact, SQL-checkable)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.5) -> DataFrame:
    """Exact pairwise Jaccard over word 3-shingles.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    jaccard = common / (|A| + |B| - common) — all-integer until one double
    division, so the value is bit-identical across engines (the DuckDB
    oracle runs the naive shingle self-join; results are provably equal).

    Candidate pairs come from a PPJoin-style prefix join instead of the
    full shingle self-join — EXACT, no recall loss. Lemma
    (set-similarity-join literature): under a global shingle order, if
    J(A,B) >= t then |A∩B| >= α := ceil(t/(1+t)·(|A|+|B|)), and two sets
    with overlap >= α must collide within their first |S| − α + 1
    elements. Since J >= t also forces |B| >= t·|A|, α >= ceil(t·|S|)
    for each side, so indexing the first |S| − ceil(t·|S|) + 1 elements
    (a superset of the required prefix) is safe. Ordering by ascending
    global frequency puts the RAREST shingles in the prefix, so the join
    avoids exactly the hot shingles that blow up the naive join.
    Verification then counts common shingles over the FULL sets for the
    surviving candidates only.

    The candidate-join key is sid = xxhash64(shingle). Collisions can
    only ADD candidates (the join becomes a superset; verification
    intersects the true string sets), so exactness NEVER depends on
    collision freedom. Quantified: expected colliding shingle pairs ~
    D^2/2^65 — ~3e4 worldwide at D=10^12 distinct shingles — i.e. a
    vanishing sliver of extra verification work even at 100 TB. Zero
    extra shuffles: the hash is computed in place.
    """
    # Shingling (the CPU-dominant step) runs ONCE into a materialized
    # per-doc array table — one row per document, far smaller than the
    # exploded rows — and every consumer (frequency counts, prefix
    # ranking, verification) derives from it: the exploded form is a
    # cheap explode of the arrays, and verification intersects them
    # directly. At 100 TB an explicit bucketed write replaces this.
    arrays = materialize(shingle_arrays(df, id_col, text_col),
                         "ngram_jaccard_pairs: shingle arrays")
    sh = arrays.select("id", F.explode("shs").alias("shingle"))
    sizes = arrays.select("id", F.size("shs").alias("n_shingles"))
    # Candidate generation runs on xxhash64 LONG keys, not shingle
    # strings — EXACT at any scale:
    # - the global order is (freq-of-hash, shingle string): a total
    #   order on shingles, identical in every document, so the prefix
    #   lemma holds (a hash collision merely merges two shingles'
    #   freq counts — the order stays total via the string tie-break);
    # - the self-join on the hash is a SUPERSET of the string-equality
    #   join (collisions add candidates, never drop them), and the
    #   verification step intersects the true string sets.
    # Net: the frequency aggregation and the candidate join shuffle
    # 8-byte longs instead of shingle strings.
    shh = sh.withColumn("sid", F.xxhash64("shingle"))
    freq = shh.groupBy("sid").agg(F.expr("count(*) AS freq"))
    ranked = shh.join(freq, "sid").selectExpr(
        "*", "row_number() OVER (PARTITION BY id "
        "ORDER BY freq ASC, shingle ASC) AS rank")
    # Materialized: the self-join consumes the prefix index twice, and
    # exchange reuse across differently-pruned branches is not
    # guaranteed (see replay_ops.with_global_index) — without it the
    # freq+rank pipeline can execute twice. The index is a small
    # fraction of the corpus (rarest ~1/3 of each doc's shingles).
    # 1e-9 slack inside the ceil: float rounding of t*n (e.g.
    # 0.56*25 = 14.000000000000002) would otherwise round the ceil UP
    # and shrink the prefix by one — a silent recall loss. The slack
    # can only lengthen the prefix (more candidates, never fewer).
    pref = materialize(
        ranked.join(sizes, "id")
        .filter(f"rank <= n_shingles - ceil({threshold!r}D "
                f"* n_shingles - 1e-09D) + 1")
        .select("id", "sid", "rank", "n_shingles"),
        "ngram_jaccard_pairs: prefix index")
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin's two further EXACT pruning conditions (both admit a
    # superset of true pairs; the 1e-9 slack makes float rounding err
    # only toward keeping a candidate, never dropping one):
    # - length filter: J >= t forces |B| >= t|A| and |A| >= t|B|.
    # - positional filter: for a collision at 1-based global-order
    #   positions (pa, pb), overlap <= 1 + min(|A|-pa, |B|-pb); the
    #   pair's FIRST common shingle maximizes that bound over its
    #   collisions, so requiring ANY collision to reach
    #   alpha = ceil(t/(1+t)(|A|+|B|)) is exact.
    t = repr(threshold)
    cond = F.expr(
        f"a.sid = b.sid AND a.id < b.id "
        f"AND CAST(b.n_shingles AS DOUBLE) >= "
        f"{t}D * a.n_shingles - 1e-09D "
        f"AND CAST(a.n_shingles AS DOUBLE) >= "
        f"{t}D * b.n_shingles - 1e-09D "
        f"AND 1 + least(a.n_shingles - a.rank, "
        f"b.n_shingles - b.rank) >= "
        f"ceil({threshold / (1.0 + threshold)!r}D "
        f"* (a.n_shingles + b.n_shingles) - 1e-09D)")
    cand = (a.join(b, cond)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())
    return _verify_jaccard(arrays, cand, threshold)


def _verify_jaccard(arrays: DataFrame, cand: DataFrame,
                    threshold: float) -> DataFrame:
    """EXACT Jaccard of candidate pairs against the materialized per-doc
    (id, shs) shingle-array table: join candidates to both sides' arrays
    and count the overlap with a codegen'd array_intersect — no per-pair
    row explosion.

    Plan shape: two equi-joins of the candidate pairs against the array
    table (broadcast when small, shuffle-on-id at scale — AQE skew-join
    covers hub documents that appear in many pairs), then a pure
    projection. This replaced a (cand x shingles) double row-join whose
    intermediate was ~#candidates x doc_size rows: verification cost is
    now proportional to candidate count, not candidate count times
    document size."""
    va = arrays.selectExpr("id AS id_a", "shs AS sh_a", "size(shs) AS na")
    vb = arrays.selectExpr("id AS id_b", "shs AS sh_b", "size(shs) AS nb")
    common = "size(array_intersect(sh_a, sh_b))"
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .selectExpr("id_a", "id_b",
                    f"(CAST({common} AS DOUBLE) / (na + nb - {common})) "
                    "AS jaccard")
        .filter(f"jaccard >= {threshold!r}D")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                   k: int = 3,
                   extra: dict[str, Column] | None = None) -> DataFrame:
    """(id, shs) — each document's distinct shingle set as ONE array row.
    The canonical materialization point: shingle construction (the
    CPU-dominant step) happens exactly once per document here; callers
    materialize this and derive both the exploded row form (cheap explode
    of the arrays) and array-level verification from it. (Building the
    shingle array inside downstream expressions instead lets Catalyst's
    CollapseProject re-inline the expensive construction into every
    consumer — 60x slower measured on the MinHash hash family.)

    The input is round-robin repartitioned to the session's parallelism
    ONLY when it is a narrow plain file scan: document corpora often land
    as few large (or one small) parquet files, and one cheap shuffle of
    raw text buys full-width parallelism for the shingling. When the
    source is already wide (the 100 TB case: maxPartitionBytes yields
    thousands of input splits) or the caller's plan already contains a
    width-determining operator (repartition/join/aggregate/...), no
    exchange is inserted — an unconditional repartition(n) would
    round-robin-shuffle the entire raw corpus even when already n-wide.

    The width probe is ANALYSIS-ONLY — see operators/scanwidth.py (r13:
    the probe that lived here was factored out so the per-row-heavy and
    Python-boundary query entries share it)."""
    df = widen_if_narrow(df)
    # `extra`: additional named columns computed in the SAME widened
    # projection (e.g. a token count sharing the tokenize with the shingle
    # build via whole-stage subexpression elimination) — composed pipelines
    # materialize the result once and feed every leg from it.
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(word_shingles_expr(text_col, k)).alias("shs"),
        *[c.alias(n) for n, c in (extra or {}).items()])


def shingle_rows(df: DataFrame, id_col: str, text_col: str,
                 k: int = 3) -> DataFrame:
    """Exploded (id, shingle) rows — the row form for frequency counting,
    prefix ranking, and MinHash aggregation (see `shingle_arrays` for the
    materialization-point discussion)."""
    return shingle_arrays(df, id_col, text_col, k).select(
        "id", F.explode("shs").alias("shingle"))


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, k: int = 3) -> DataFrame:
    """num_hashes-wide MinHash signature, one column per hash.

    Hash family: the shingle string is xxhash64'd ONCE to a 64-bit id,
    then hash_i = xxhash64(seed_i, shingle_id) — rehashing the long is
    ~4.5x faster than hashing the string num_hashes times (measured at
    sf0.1) and is still a uniform seeded family over shingle identity.
    Signature = num_hashes map-side-combinable MIN aggregates over the
    exploded shingles: one shuffle keyed by doc id, linear scaling.
    """
    sh = shingle_rows(df, id_col, text_col, k)
    return _signature_from_rows(sh, num_hashes)


def _signature_from_rows(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Signature aggregation over (id, shingle) rows (see
    minhash_signature for the hash-family discussion).

    The aggregate columns are built as SQL-expression strings, not nested
    Column calls: each py4j round trip costs ~0.8 ms on this box and the
    Column form paid ~6 round trips per hash column at plan-construction
    time (r13 profile: the bench timer bills construction to the query).
    `xxhash64({i}, __h0)` parses the seed as the same INT literal
    `F.lit(i)` produced, so the hash values — and therefore the banded
    candidate set — are bit-identical (asserted in the r13 A/B).

    The num_hashes MIN aggregates ride ONE struct-of-aggregates expr
    (r13 opt, same round-trip motive): `agg(struct(min(..) AS h0, ..))`
    parses in a single F.expr call instead of one per hash column
    (measured 180 -> 30 round trips at 32 hashes). Catalyst rewrites it
    to the identical Aggregate (per-hash partial_min; the struct is
    assembled only in the final-agg output and immediately re-projected
    to top-level columns), so plan and values are unchanged — pinned by
    the existing recall/oracle tests plus the struct-vs-loop equality
    check in test_pipeline_ops."""
    hashed = sh.withColumn("__h0", F.xxhash64("shingle"))
    mins = ", ".join(f"min(xxhash64({i}, __h0)) AS h{i}"
                     for i in range(num_hashes))
    return (hashed.groupBy("id").agg(F.expr(f"struct({mins}) AS __s"))
            .select("id", "__s.*"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 32, bands: int = 16,
                      k: int = 3) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Default banding is 16 bands x 2 rows over a 32-hash signature, tuned
    to the verified J>=0.5 threshold: collision probability 1-(1-J^2)^16
    is ~0.99 at J=0.5 exactly and rises fast above it (~0.9992 at J=0.6,
    ~1-2e-5 at J=0.7). The r3 default (32 bands x 2 over 64 hashes,
    ~0.9999 at J=0.5) bought two extra nines at the exact boundary for
    DOUBLE the signature aggregation and double the band-entry rows —
    the r3 verdict priced that point of recall as the whole minhash cost
    regression. The residual per-pair miss probability (<=1e-2 only for
    pairs sitting exactly AT the boundary) is deterministic given the
    hash family, and the suite checks output == exact Jaccard pairs at
    every shipped SF. The extra false positives a 2-row band admits are
    removed by the exact-Jaccard verification step.

    signature -> `bands` bands of num_hashes/bands rows; band hash =
    xxhash64 over the band's columns; pairs = self-equi-join on
    (band_idx, band_hash). The join key is a 64-bit bucket id, so the
    quadratic blow-up is limited to genuine collision buckets; skew-prone
    giant buckets are handled by AQE skew-join at scale. The signature
    aggregation is computed once (identical plan on both join sides ->
    ReusedExchange).

    Output: distinct (id_a, id_b), id_a < id_b.
    """
    sig = minhash_signature(df, id_col, text_col, num_hashes, k)
    return _lsh_pairs_from_signature(sig, num_hashes, bands)


def _lsh_pairs_from_signature(sig: DataFrame, num_hashes: int,
                              bands: int) -> DataFrame:
    """Banded self-equi-join over a precomputed signature (see
    minhash_lsh_pairs for the banding discussion).

    The band-entry table is MATERIALIZED: it feeds both sides of the
    self-join, and exchange reuse does not dedupe the two subtrees (same
    failure mode as the ngram prefix index — see `pref` in
    ngram_jaccard_pairs), so without it the whole signature
    aggregation (explode x num_hashes seeded hashes + groupBy) executed
    once PER JOIN SIDE (r13 profile: two identical ~3 s-CPU map stages
    with byte-identical shuffle writes; interleaved A/B at sf0.1 bench
    conditions: 4.06 -> 1.63 s whole-query on a like-loaded box)."""
    band_entries = materialize(
        _band_entries_from_signature(sig, num_hashes, bands),
        "lsh_pairs: band entries")
    a, b = band_entries.alias("a"), band_entries.alias("b")
    return (
        a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket "
                         "AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def _band_entries_from_signature(sig: DataFrame, num_hashes: int,
                                 bands: int) -> DataFrame:
    """(id, band, bucket) rows of the banded signature (the join input
    of _lsh_pairs_from_signature). One `inline(array(struct(...)))`
    selectExpr instead of nested Column calls: band/bucket VALUES are
    unchanged (same INT band literal, same xxhash64-over-concat_ws
    bucket — asserted bit-equal in the r13 A/B); what changes is
    plan-construction cost (~0.15 s fewer py4j round trips at 16 bands,
    billed to the query by the bench)."""
    rows_per_band = num_hashes // bands
    structs = ",".join(
        "struct({b} AS band, xxhash64(concat_ws(',', {cols})) AS bucket)"
        .format(b=b, cols=",".join(f"h{b * rows_per_band + r}"
                                   for r in range(rows_per_band)))
        for b in range(bands))
    return sig.selectExpr("id", f"inline(array({structs}))")


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  threshold: float = 0.5) -> DataFrame:
    """LSH candidates (16 bands x 2 rows over a 32-hash signature of the
    word 3-shingles; see minhash_lsh_pairs) verified by exact Jaccard
    (estimate from signatures is also available; exact verification keeps
    the result deterministic).

    Verification intersects the MATERIALIZED per-doc shingle arrays (the
    signature aggregation derives its exploded rows from the same table,
    so shingling runs once for the whole query); see `_verify_jaccard`.

    Returns confirmed near-dup pairs (id_a, id_b, jaccard)."""
    arrays = materialize(shingle_arrays(df, id_col, text_col),
                         "minhash_dedup: shingle arrays")
    sh = arrays.select("id", F.explode("shs").alias("shingle"))
    sig = _signature_from_rows(sh, 32)
    cand = _lsh_pairs_from_signature(sig, 32, 16)
    return _verify_jaccard(arrays, cand, threshold)


def cross_split_contamination(df: DataFrame, id_col: str, text_col: str,
                              split_col: str) -> DataFrame:
    """Train/eval contamination detection — the decontamination pass every
    LLM data pipeline runs before publishing a split: an eval document
    (`split_col` other than 'train') is contaminated iff it shares at
    least one word 3-shingle with ANY training document.

    Output: (id, n_shared_train_grams, contaminated) for every document;
    train rows carry (0, false) so the result unions cleanly onto the
    split table.

    Plan shape: one shingle pass (the shared shingle_arrays kernel), the
    distinct train-gram table (map-side-combinable distinct), then a
    LEFT SEMI equi-join of eval (id, shingle) rows against it and a
    per-doc count — every step a hash-partitioned join/agg on bounded
    keys, no cross join, so the plan survives a 100 TB corpus. The join
    keys with xxhash64(shingle) and keeps the string as an equality
    residual: partitioning shuffles 8-byte longs, correctness never
    depends on collision freedom (mirrors the PPJoin key discussion in
    ngram_jaccard_pairs)."""
    # Materialized for the same reason as ngram_jaccard_pairs PLUS a
    # plan-shape trap specific to this op: the explode feeding a JOIN
    # makes InferFiltersFromGenerate push a size(shs)>0 predicate —
    # containing the WHOLE shingle construction — below the widening
    # repartition, re-evaluating it single-threaded on the narrow scan
    # (measured 3.5 s vs 0.4 s at sf0.1). The checkpoint is a pushdown
    # barrier, and the two consumers (train grams / eval rows) share one
    # shingle pass instead of recomputing it per branch.
    # r13 opt: the split label rides the materialized shingle table
    # (`extra=`) instead of being re-attached per branch — the train/eval
    # branches each re-ran the labels broadcast join over ALL exploded
    # shingle rows (interleaved A/B on the full doc_train_split query at
    # sf0.1 bench conditions: 1.57 -> 1.13 s; rows identical). One extra
    # small string per row.
    arrays = materialize(
        shingle_arrays(df, id_col, text_col,
                       extra={split_col: F.col(split_col)}),
        "cross_split_contamination: shingle arrays")
    labels = arrays.select("id", split_col)
    sh = arrays.selectExpr(
        "id", "explode(shs) AS shingle", _bt(split_col)) \
        .selectExpr("*", "xxhash64(shingle) AS sid")
    # Predicates/projections as parsed expr strings (r13 opt: round
    # trips). Identifiers are interpolated into expr strings —
    # backtick-quote them (with embedded-backtick escaping) so column
    # names needing quoting (spaces, hyphens, dots) keep resolving.
    split_q = _bt(split_col)
    is_train = f"({split_q} = 'train')"
    # No .distinct() on the train side: LEFT SEMI is an existence join, so
    # the hash build dedupes internally — a pre-distinct would only add a
    # full extra shuffle of the train shingles (measured r7: one fewer
    # shuffle stage, same pair set; per-doc shingles are already distinct
    # from word_shingles_expr, so only cross-doc repeats reach the build
    # side).
    train_g = sh.filter(is_train).select("sid", "shingle")
    hits = (sh.filter(f"NOT {is_train}")
            .join(train_g, ["sid", "shingle"], "left_semi")
            .groupBy("id")
            .agg(F.expr("count(*) AS __n_shared")))
    return (labels.join(hits, "id", "left")
            .selectExpr(
                "id",
                "CAST(coalesce(__n_shared, 0) AS BIGINT) "
                "AS n_shared_train_grams",
                f"((NOT {is_train}) AND coalesce(__n_shared, 0) > 0) "
                "AS contaminated"))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: explode tokens, xxhash64 each, and for
    every bit position accumulate +1/-1; bit j of the simhash is the sign.

    One explode + one groupBy with 64 integer sums — map-side combinable,
    scales linearly.
    """
    toks = df.selectExpr(f"{id_col} AS id",
                         f"explode({tokens_expr(text_col)}) AS tok")
    h = toks.withColumn("h", F.xxhash64("tok"))
    bit_sums = h.groupBy("id").agg(*[
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"b{j}")
        for j in range(64)
    ])
    sim = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2 ** j).cast("long") if j < 63 else \
            F.when(F.col(f"b{j}") > 0, F.lit(-(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return bit_sums.select("id", sim.alias("simhash"))


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 3.

    Scale path: block on 16-bit chunks (a pair within Hamming<=3 of a 64-bit
    hash must agree exactly on >=1 of 4 chunks — pigeonhole), then verify
    with bit_count on the XOR. Avoids the full cross-join.
    """
    # Materialized for the same both-sides-of-a-self-join reason as the
    # band-entry table in _lsh_pairs_from_signature: without it the
    # token-explode + 64-bit-vote aggregation executes once per join
    # side (exchange reuse does not dedupe the subtrees).
    sim = simhash64(df, id_col, text_col)
    chunks = materialize(sim.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_idx"),
                     F.shiftrightunsigned(F.col("simhash"), c * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
            for c in range(4)
        ])).alias("ch"),
    ).select("id", "simhash", "ch.chunk_idx", "ch.chunk"),
        "simhash_near_dups: chunks")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= 3)
            .select("id_a", "id_b", "hamming"))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (banded sign-LSH candidates + exact verify)
# --------------------------------------------------------------------------


def embedding_cosine_dedup(emb: DataFrame) -> DataFrame:
    """Near-dup embedding pairs: banded sign-LSH candidate generation with
    exact DECIMAL-cosine verification of survivors.

    Semantics (deterministic, engine-independent): a pair is a candidate
    iff its sign patterns agree on ALL 8 components of at least one of 8
    contiguous component bands; candidates with exact cosine >= 0.4 are
    emitted. This banded definition — not "all pairs above threshold" —
    is the production near-dedup contract (same shape as MinHash
    banding): dense vectors admit no sub-quadratic EXACT threshold join,
    and the fixture's pair-cosine distribution is a continuum through the
    threshold, so any bucketed plan that claimed exact all-pairs
    semantics would be luck-dependent. The SQL oracle expresses this same
    banded definition, so the gate is exact by construction.

    Plan shape: one explode to 8 (band, bucket) keys per vector, an
    equi-join on (band, bucket) — hash shuffle on a compact int pair, AQE
    skew-join for hot buckets — distinct pairs, then exact cosine only on
    candidates. Work is sum over buckets of |bucket|^2, never corpus^2.

    Banding choice (MEASURED, tools/recall_probe.py at sf0.01): sign
    agreement per bit at cosine c has probability 1 - arccos(c)/pi, so
    recall is regime-dependent. At the true NEAR-DUP regime (c>=0.9,
    p_bit~0.857) 8 bands x 8 bits recalls ~94% of pairs while keeping 256
    buckets per band (bucket sizes ~N/256 — scale-safe). At the fixture's
    low c>=0.4 operating point the same banding recalls only ~29% (16x4
    measures ~95% but with 16 buckets per band — bucket-local pairwise
    work ~N^2/16, which dies at 100 TB). The banded candidate definition
    is the CONTRACT (the oracle encodes the same bands), so the gate
    stays exact either way.

    vec_id is a key of the embeddings table, so every pair appears
    exactly once from the joins below, matching the oracle's raw-join
    semantics, and NO pair-level collapse is needed.
    """
    src = emb.select(F.col("vec_id").alias("id"),
                     F.col("embedding").alias("v"))
    keys = _sign_band_keys(src)
    a, b = keys.alias("a"), keys.alias("b")
    cand_ids = (
        a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket "
                         "AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )
    return _verify_cosine_pairs(_with_vec_norm(src), cand_ids)


def _sign_band_keys(src: DataFrame) -> DataFrame:
    """(id, band, bucket) sign-LSH keys (8 bands of 8 sign bits) of an
    (id, v) table. Candidate
    generation shuffles ONLY these rows — the float vectors never ride
    through the LSH join; they are joined back for surviving pairs.

    Built as one inline(array(struct(...))) selectExpr: the Column form
    paid ~8 py4j round trips per sign bit (~500 per call at 8x8) of
    plan-construction latency the bench bills to the query. Bucket
    VALUES are unchanged — same left-associated (bit*2+bit) chain, same
    INT cast (pinned by test_sign_band_keys_match_reference)."""
    def band_bucket_sql(b: int) -> str:
        bucket = "0"
        for j in range(8):
            bit = (f"(CASE WHEN element_at(v, {b * 8 + j + 1}) >= 0 "
                   f"THEN 1 ELSE 0 END)")
            bucket = f"({bucket} * 2 + {bit})"
        return f"CAST({bucket} AS INT)"

    structs = ",".join(
        f"struct({b} AS band, {band_bucket_sql(b)} AS bucket)"
        for b in range(8))
    return src.selectExpr("id", f"inline(array({structs}))")


def _with_vec_norm(src: DataFrame) -> DataFrame:
    """(id, v, n): per-VECTOR double norms ride the verification joins —
    computed N times, not 2x|candidates| times (the r3 shape re-folded
    both norms per pair — the dominant interpreted-HOF cost at sf0.1:
    1.65 s -> 1.15 s for the pre-filter stage with norms hoisted)."""
    from . import similarity
    return src.selectExpr(
        "*", f"sqrt({similarity._fast_dot_sql('v', 'v')}) AS n")


def _verify_cosine_pairs(withn: DataFrame,
                         cand_ids: DataFrame) -> DataFrame:
    """Two-stage exact verification (cosine >= 0.4) of candidate id pairs
    against an (id, v, n) table: the decimal-exact cosine is an
    interpreted higher-order-function expression (no codegen) — running
    it on every candidate dominated the query. A double-precision
    pre-filter at (0.4 - 1e-6) is EXACT as a filter: double summation
    error over 64 unit-scale products is bounded by ~64*2^-52 ~ 1e-14
    relative, so no pair with exact cosine >= 0.4 can score below the
    margin. The expensive exact cosine then runs only on survivors.
    Pre-filter dot: the interpreted HOF `_fast_dot_sql` — a codegen'd
    balanced-tree fixed-width dot won its ISOLATED verify stage (r7:
    0.69 s vs 0.87 s at sf0.1) but measured SLOWER whole-query at bench
    conditions (2.21 s vs 1.85 s; the 127-node expression is re-analyzed
    per run), and the left-deep unrolled chain and an Arrow pandas-UDF
    dot both MEASURED slower (chain 0.88 s; UDF 3.8 s vs 1.9 s
    whole-query, r6)."""
    from . import similarity
    va = withn.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                      F.col("n").alias("na"))
    vb = withn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                      F.col("n").alias("nb"))
    cand = cand_ids.join(va, "id_a").join(vb, "id_b")
    dot_sql = similarity._fast_dot_sql("va", "vb")
    fast = cand.selectExpr("*", f"({dot_sql} / (na * nb)) AS __fc")
    survivors = fast.filter(F.col("__fc") >= 0.4 - 1e-6)
    scored = survivors.selectExpr(
        "id_a", "id_b", f"{similarity.cosine_sql('va', 'vb')} AS cosine")
    return scored.filter(F.col("cosine") >= 0.4)


# --------------------------------------------------------------------------
# Dedup cluster formation (connected components + representative choice)
# --------------------------------------------------------------------------


def dedup_clusters(nodes: DataFrame, pairs: DataFrame,
                   max_iters: int = 20) -> DataFrame:
    """Group near-dup PAIRS into CLUSTERS and pick one representative
    (the min `doc_id`) per cluster — the step that turns any pairwise
    dedup modality (Jaccard, MinHash, SimHash, embedding-cosine) into a
    keep/drop decision.

    `pairs` is an (id_a, id_b) DataFrame.

    Connected components by iterative min-label propagation: every node
    starts labeled with its own id; each round, a node's label becomes the
    min of its own and its neighbors' labels; at fixpoint the label is the
    component's min id. Each round is one equi-join + one
    map-side-combinable min-aggregate — all hash-shuffle on ids, no
    driver-side graph. Rounds needed = component diameter, and near-dup
    clusters are star-like (diameter 2-3) because every member overlaps
    the same core content, so the loop converges in a handful of rounds;
    `max_iters` bounds pathological chains. Convergence is observed with
    one count action per two chained rounds (zero label changes in the
    LAST round of a chain implies fixpoint regardless of earlier
    rounds). Each chain costs a checkpoint job and a count job, and a
    chained round's plan embeds its predecessor twice (neighbor branch +
    carry branch) — re-computing it. At the gate and bench SFs the per-job
    launch constant dominates the tiny label shuffles, so chaining two
    rounds per check halves the job count; at 100 TB, where label
    shuffles dwarf job launches, checking every round is the
    compute-optimal trade.

    Returns (id, cluster_id, cluster_size, is_representative) for EVERY
    node — singletons form their own cluster.
    """
    ids = nodes.select(F.col("doc_id").alias("id")).distinct()
    # Materialize the pair list FIRST: the symmetric-edges union consumes
    # `pairs` twice, so a pair plan whose expensive stages are NOT
    # internally materialized (a raw join, a filtered scan) would run once
    # per branch. The union itself is two projections of the checkpoint.
    e = materialize(pairs.select(F.col("id_a").alias("src"),
                                 F.col("id_b").alias("dst")),
                    "dedup_clusters: edges")
    edges = e.unionAll(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
    labels = materialize(ids.withColumn("lbl", F.col("id")),
                         "dedup_clusters: labels")
    converged = False

    def one_round(cur: DataFrame) -> DataFrame:
        neigh = (edges.join(cur, edges["src"] == cur["id"])
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.min("lbl").alias("n_lbl")))
        # Change detection rides the SAME left join that computes the new
        # labels (lbl strictly decreases, so changed == n_lbl < lbl) — one
        # join per round, not a second old-vs-new join.
        return (cur.join(neigh, "id", "left")
                .select("id", F.least("lbl", "n_lbl").alias("lbl"),
                        (F.col("n_lbl") < F.col("lbl")).alias("__chg")))

    # max_iters bounds the component DIAMETER; observing convergence takes
    # one extra zero-change round, hence max_iters + 1 total rounds — a
    # component of diameter exactly max_iters must not raise. Rounds run
    # in chains of two with one checkpoint + one count action per chain
    # (see docstring); the checkpoint also cuts the iterative lineage.
    rounds_left = max_iters + 1
    while rounds_left > 0:
        chain = min(2, rounds_left)
        rounds_left -= chain
        merged = one_round(labels)
        for _ in range(chain - 1):
            merged = one_round(merged.drop("__chg"))
        merged = materialize(
            merged, f"dedup_clusters: rounds to {max_iters + 1 - rounds_left}")
        changed = merged.filter("__chg").count()
        labels = merged.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Returning partially-propagated labels would silently split one
        # component into several clusters (wrong, and un-flagged vs an
        # exact transitive-closure oracle). Long chains are pathological
        # for near-dup graphs (star-like, diameter 2-3), so fail loudly.
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iters={max_iters} "
            "rounds (component diameter exceeds the bound); raise max_iters")
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("id") == F.col("lbl")).alias("is_representative"))


# --------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr variant, at token
# granularity)
# --------------------------------------------------------------------------


#: Token width of the windows `duplicate_spans` hashes.
SPAN_WINDOW = 12


def window_occurrences(df: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """Every `SPAN_WINDOW`-token window of every document, one row per
    occurrence: (id, pos, win). Windows are built JVM-side with
    transform-over-sequence (no Python), then posexploded; docs shorter
    than the window emit nothing (a doc-length duplicate of a short
    doc is exact dedup's job, not substring dedup's).

    Tokenization is the package tokenizer (`text.tokens_expr`: lower, trim,
    split on whitespace) so the same oracle CTE text applies.
    """
    toks = F.expr(tokens_expr(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - F.lit(SPAN_WINDOW))
    wins = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SPAN_WINDOW)))
    return (df.filter(n >= SPAN_WINDOW)
            .select(F.col(id_col),
                    F.posexplode(wins).alias("pos", "win")))


def duplicate_spans(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Maximal duplicated token spans per document: merge every
    `SPAN_WINDOW`-token window whose exact text occurs more than once in the
    corpus (any doc, including the same one) into per-doc islands.
    Returns (id_col, span_start, span_end, n_windows) with token-index
    half-open spans [span_start, span_end).

    Scale shape (100 TB): the heavy shuffle is the candidate pass on
    xxhash64(win) — 8-byte keys with map-side combine, never the window
    strings; only hash-colliding candidates re-shuffle their strings for
    the exact count (collision freedom is verified, not assumed — module
    rule). The island merge is a per-doc window function (lag + running
    sum partitioned by id), no global sort. A degenerate hot window
    ("a a a ..." boilerplate repeated across the corpus) concentrates its
    occurrence join on one string key; AQE skew-join handles moderate
    skew, and the candidate set it joins is already >1-filtered so the
    blowup is bounded by true duplicate mass, which is exactly the data
    this operator exists to find.

    The reference engine has no substring dedup; this extends the
    training-data family (SURVEY §6) with the standard exact-substring
    method. Unlike the paper's suffix array, windows give spans snapped
    to window granularity — maximal duplicated runs shorter than the
    window are missed and span edges can overhang a true duplicate run
    by up to SPAN_WINDOW-1 tokens; that approximation is what makes the op a
    pure groupBy/join plan.
    """
    rows = window_occurrences(df, id_col, text_col)
    # Barrier: `rows` (a generator output) feeds both the candidate agg
    # and the occurrence join — without it, InferFiltersFromGenerate
    # pushes a size()>0 predicate containing the whole window-construction
    # expression below the join input (the r6 contamination trap).
    rows = materialize(rows.withColumn("__h", F.xxhash64("win")),
                       "duplicate_spans: window occurrences")
    cand_h = (rows.groupBy("__h").count()
              .filter(F.col("count") > 1).select("__h"))
    cand = rows.join(cand_h, "__h", "left_semi")
    win_cnt = (cand.groupBy("win").count()
               .filter(F.col("count") > 1).select("win"))
    occ = cand.join(win_cnt, "win", "left_semi")
    return _merge_islands(occ, id_col)


def _merge_islands(occ: DataFrame, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of duplicated window occurrences
    (id, pos, ...) into per-doc spans — lag + running sum partitioned by
    id, no global sort."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = occ.withColumn(
        "__b",
        (F.col("pos") >
         F.coalesce(F.lag("pos").over(w), F.lit(-SPAN_WINDOW - 1))
         + SPAN_WINDOW)
        .cast("int"))
    grp = brk.withColumn(
        "__g", F.sum("__b").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (grp.groupBy(id_col, "__g")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + SPAN_WINDOW).cast("long").alias("span_end"),
                 F.count("*").alias("n_windows"))
            .drop("__g")
            .select(id_col, "span_start", "span_end", "n_windows"))
