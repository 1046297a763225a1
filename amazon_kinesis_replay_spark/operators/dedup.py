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


def distinct_rows(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """dropDuplicates over the key columns."""
    return df.dropDuplicates(key_cols)


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
                        k: int = 3, threshold: float = 0.5,
                        prefix_filter: bool = True,
                        shingle_ids: str = "hash") -> DataFrame:
    """Exact pairwise Jaccard over word k-shingles.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    jaccard = common / (|A| + |B| - common) — all-integer until one double
    division, so the value is bit-identical across engines (the DuckDB
    oracle runs the naive shingle self-join; results are provably equal).

    With prefix_filter (default), candidate pairs come from a PPJoin-style
    prefix join instead of the full shingle self-join — EXACT, no recall
    loss. Lemma (set-similarity-join literature): under a global shingle
    order, if J(A,B) >= t then |A∩B| >= α := ceil(t/(1+t)·(|A|+|B|)), and
    two sets with overlap >= α must collide within their first
    |S| − α + 1 elements. Since J >= t also forces |B| >= t·|A|, α >=
    ceil(t·|S|) for each side, so indexing the first |S| − ceil(t·|S|) + 1
    elements (a superset of the required prefix) is safe. Ordering by
    ascending global frequency puts the RAREST shingles in the prefix, so
    the join avoids exactly the hot shingles that blow up the naive join.
    Verification then counts common shingles over the FULL sets for the
    surviving candidates only.

    shingle_ids chooses the candidate-join key representation:
    - "hash" (default): sid = xxhash64(shingle). Collisions can only ADD
      candidates (the join becomes a superset; verification intersects
      the true string sets), so exactness NEVER depends on collision
      freedom. Quantified: expected colliding shingle pairs ~ D^2/2^65 —
      ~3e4 worldwide at D=10^12 distinct shingles — i.e. a vanishing
      sliver of extra verification work even at 100 TB. Zero extra
      shuffles: the hash is computed in place.
    - "dict": collision-FREE dense ids from the distinct-shingle
      frequency table, numbered by with_global_index (deterministic
      literal bounds) over (xxhash64(shingle), shingle) — NOT over
      (freq, shingle), which would funnel the freq=1 long tail (the
      vast majority of distinct shingles in any real corpus) into a
      single range bucket and OOM that task at scale; the hash key
      range-buckets uniformly, and the string tie-break keeps the ids
      dense and collision-free even across hash collisions. Costs one
      extra shuffle of the exploded corpus (the string->id mapping
      join) plus two metadata-scale shuffles of the distinct-shingle
      table; buys (a) ids that NEVER alias two shingles — required
      when signatures/ids are persisted across corpora or the distinct
      count approaches ~10^12 — and (b) an all-numeric per-doc prefix
      rank (window orders by (freq, sid) — 16 bytes — instead of
      (freq, shingle string)). The global order becomes
      (freq, hash, shingle): still total and rarest-first, so the
      prefix lemma holds identically. See docs/SCALE.md for when to
      flip it; timing at sf0.1 recorded there.
    """
    # Shingling (the CPU-dominant step) runs ONCE into a per-doc array
    # cache — one row per document, far smaller than the exploded rows —
    # and every consumer (frequency counts, prefix ranking, verification)
    # derives from it: the exploded form is a cheap explode of cached
    # arrays, and verification intersects the cached arrays directly.
    # MEMORY_AND_DISK semantics: spills rather than OOMs when the corpus
    # is large; at 100 TB an explicit materialization (bucketed write)
    # replaces this.
    # CACHE LIFETIME (documented leak): the returned DataFrame's plan
    # depends on these persisted branches, so they cannot be unpersisted
    # here — the caller consumes the result lazily. Entries stay in the
    # session's CacheManager until spark.catalog.clearCache() or session
    # end; storage pressure is bounded by MEMORY_AND_DISK eviction.
    arrays = shingle_arrays(df, id_col, text_col, k).persist()
    sh = arrays.select("id", F.explode("shs").alias("shingle"))
    sizes = arrays.select("id", F.size("shs").alias("n_shingles"))

    if prefix_filter:
        if shingle_ids == "dict":
            # Collision-free dense ids: number the distinct-shingle table
            # (metadata-scale — orders of magnitude smaller than the
            # exploded corpus) by (hash, shingle). with_global_index
            # range-buckets on the FIRST order column, so leading with
            # the uniform hash avoids the freq-long-tail skew cliff; the
            # shingle tie-break keeps ids dense through hash collisions.
            from .replay_ops import with_global_index
            dic = (sh.groupBy("shingle")
                   .agg(F.count("*").alias("freq"))
                   .withColumn("__h", F.xxhash64("shingle")))
            dic = (with_global_index(dic, ["__h", "shingle"],
                                     out_col="sid")
                   .select("shingle", "freq", "sid"))
            # The one extra corpus-scale shuffle dict mode pays: map the
            # exploded rows to their ids (string equi-join; broadcast
            # when the dictionary is small, shuffle-hash at scale).
            shh = sh.join(dic, "shingle")
            # Global order (freq, hash, shingle) realized as (freq, sid):
            # sid's order IS (hash, shingle) by construction, so the
            # window sorts two longs — no string sort key per row.
            w = Window.partitionBy("id").orderBy(F.col("freq").asc(),
                                                 F.col("sid").asc())
            ranked = shh.withColumn("rank", F.row_number().over(w))
        else:
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
        # Persisted: the self-join consumes the prefix index twice, and
        # exchange reuse across differently-pruned branches is not
        # guaranteed (see replay_ops.with_global_index) — without the
        # persist the freq+rank pipeline can execute twice. The index is
        # a small fraction of the corpus (rarest ~1/3 of each doc's
        # shingles).
        # 1e-9 slack inside the ceil: float rounding of t*n (e.g.
        # 0.56*25 = 14.000000000000002) would otherwise round the ceil UP
        # and shrink the prefix by one — a silent recall loss. The slack
        # can only lengthen the prefix (more candidates, never fewer).
        pref = (ranked.join(sizes, "id")
                .filter(f"rank <= n_shingles - ceil({threshold!r}D "
                        f"* n_shingles - 1e-09D) + 1")
                .select("id", "sid", "rank", "n_shingles")
                .persist())
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
    else:
        a, b = sh.alias("a"), sh.alias("b")
        cand = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )

    return _verify_jaccard(arrays, cand, threshold)


def _verify_jaccard(arrays: DataFrame, cand: DataFrame,
                    threshold: float) -> DataFrame:
    """EXACT Jaccard of candidate pairs against the cached per-doc
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
    persist this and derive both the exploded row form (cheap explode of
    cached arrays) and array-level verification from it. (Building the
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
    # persist the result once and feed every leg from it.
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

    The band-entry table is PERSISTED: it feeds both sides of the
    self-join, and exchange reuse does not dedupe the two subtrees (same
    failure mode as the ngram prefix index — see the `pref` persist in
    ngram_jaccard_pairs), so without the persist the whole signature
    aggregation (explode x num_hashes seeded hashes + groupBy) executed
    once PER JOIN SIDE (r13 profile: two identical ~3 s-CPU map stages
    with byte-identical shuffle writes; interleaved A/B at sf0.1 bench
    conditions: 4.06 -> 1.63 s whole-query on a like-loaded box). Cache
    lifetime follows the ngram_jaccard_pairs note: bounded
    MEMORY_AND_DISK entries, bands x corpus-id rows — a fraction of the
    shingle cache that already rides the same queries."""
    band_entries = _band_entries_from_signature(sig, num_hashes,
                                                bands).persist()
    a, b = band_entries.alias("a"), band_entries.alias("b")
    return (
        a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket "
                         "AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int = 32, bands: int = 16, k: int = 3,
                  threshold: float = 0.5) -> DataFrame:
    """LSH candidates verified by exact Jaccard (estimate from signatures is
    also available; exact verification keeps the result deterministic).

    Verification intersects the PERSISTED per-doc shingle arrays (the
    signature aggregation derives its exploded rows from the same cache,
    so shingling runs once for the whole query); see `_verify_jaccard`.

    Returns confirmed near-dup pairs (id_a, id_b, jaccard)."""
    arrays = shingle_arrays(df, id_col, text_col, k).persist()
    sh = arrays.select("id", F.explode("shs").alias("shingle"))
    sig = _signature_from_rows(sh, num_hashes)
    cand = _lsh_pairs_from_signature(sig, num_hashes, bands)
    return _verify_jaccard(arrays, cand, threshold)


def cross_split_contamination(df: DataFrame, id_col: str, text_col: str,
                              split_col: str, k: int = 3,
                              train_value: str = "train",
                              arrays: DataFrame | None = None) -> DataFrame:
    """Train/eval contamination detection — the decontamination pass every
    LLM data pipeline runs before publishing a split: an eval document is
    contaminated iff it shares at least one word k-shingle with ANY
    training document.

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
    # Persisted for the same reason as ngram_jaccard_pairs (cache-lifetime
    # note there) PLUS a plan-shape trap specific to this op: the explode
    # feeding a JOIN makes InferFiltersFromGenerate push a size(shs)>0
    # predicate — containing the WHOLE shingle construction — below the
    # widening repartition, re-evaluating it single-threaded on the narrow
    # scan (measured 3.5 s vs 0.4 s at sf0.1). The persist is a pushdown
    # barrier, and the two consumers (train grams / eval rows) share one
    # shingle pass instead of recomputing it per branch.
    # `arrays`: optional caller-precomputed (id, shs) table; lets composed
    # pipelines share one shingle pass across ACTIONS. The persist
    # contract is ENFORCED, not just documented (r7 review): an
    # unpersisted frame here would recompute its whole plan once per
    # consumer branch — exactly the bug the internal persist prevents.
    if arrays is None:
        # r13 opt: the split label rides the persisted shingle cache
        # (`extra=`) instead of being re-attached per branch — the
        # train/eval branches each re-ran the labels broadcast join over
        # ALL exploded shingle rows (interleaved A/B on the full
        # doc_train_split query at sf0.1 bench conditions: 1.57 -> 1.13 s;
        # rows identical). One extra small string per cached row.
        arrays = shingle_arrays(df, id_col, text_col, k,
                                extra={split_col: F.col(split_col)}
                                ).persist()
        labels = arrays.select("id", split_col)
        sh = arrays.selectExpr(
            "id", "explode(shs) AS shingle", _bt(split_col)) \
            .selectExpr("*", "xxhash64(shingle) AS sid")
    else:
        from pyspark import StorageLevel
        if arrays.storageLevel == StorageLevel.NONE:
            arrays = arrays.persist()
        arrays = arrays.select("id", "shs")
        labels = df.selectExpr(f"{_bt(id_col)} AS id", _bt(split_col))
        sh = (arrays.selectExpr("id", "explode(shs) AS shingle")
              .selectExpr("*", "xxhash64(shingle) AS sid")
              .join(labels, "id"))
    # Predicates/projections as parsed expr strings (r13 opt: round
    # trips); `train_value` rides a single-quoted SQL literal. Escape
    # BACKSLASHES FIRST, then double quotes (r13 ADVICE): Spark SQL
    # string literals process C-style backslash escapes, so an unescaped
    # backslash silently changes the literal ("a\b" matched zero rows —
    # every eval doc would report uncontaminated), and a trailing
    # backslash before the doubled quote shifts the literal boundary.
    tv = train_value.replace("\\", "\\\\").replace("'", "''")
    # Identifiers are interpolated into expr strings — backtick-quote
    # them (with embedded-backtick escaping) so public-API column names
    # needing quoting (spaces, hyphens, dots) keep resolving as they did
    # under the pre-r13 F.col form.
    split_q = _bt(split_col)
    is_train = f"({split_q} = '{tv}')"
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


def simhash64(df: DataFrame, id_col: str, text_col: str,
              out_col: str = "simhash") -> DataFrame:
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
    return bit_sums.select("id", sim.alias(out_col))


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: block on 16-bit chunks (a pair within Hamming<=3 of a 64-bit
    hash must agree exactly on >=1 of 4 chunks — pigeonhole), then verify
    with bit_count on the XOR. Avoids the full cross-join.
    """
    # Persisted for the same both-sides-of-a-self-join reason as the
    # band-entry table in _lsh_pairs_from_signature: without it the
    # token-explode + 64-bit-vote aggregation executes once per join
    # side (exchange reuse does not dedupe the subtrees).
    sim = simhash64(df, id_col, text_col)
    chunks = sim.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_idx"),
                     F.shiftrightunsigned(F.col("simhash"), c * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
            for c in range(4)
        ])).alias("ch"),
    ).select("id", "simhash", "ch.chunk_idx", "ch.chunk").persist()
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
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (banded sign-LSH candidates + exact verify)
# --------------------------------------------------------------------------


def embedding_cosine_dedup(emb: DataFrame, threshold: float = 0.4,
                           n_bands: int = 8, band_bits: int = 8,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           unique_ids: bool = True,
                           dim: int | None = None) -> DataFrame:
    """Near-dup embedding pairs: banded sign-LSH candidate generation with
    exact DECIMAL-cosine verification of survivors.

    Semantics (deterministic, engine-independent): a pair is a candidate
    iff its sign patterns agree on ALL `band_bits` components of at least
    one of `n_bands` contiguous component bands; candidates with exact
    cosine >= threshold are emitted. This banded definition — not "all
    pairs above threshold" — is the production near-dedup contract (same
    shape as MinHash banding): dense vectors admit no sub-quadratic EXACT
    threshold join, and the fixture's pair-cosine distribution is a
    continuum through the threshold, so any bucketed plan that claimed
    exact all-pairs semantics would be luck-dependent. The SQL oracle
    expresses this same banded definition, so the gate is exact by
    construction.

    Plan shape: one explode to n_bands (band, bucket) keys per vector, an
    equi-join on (band, bucket) — hash shuffle on a compact int pair, AQE
    skew-join for hot buckets — distinct pairs, then exact cosine only on
    candidates. Work is sum over buckets of |bucket|^2, never corpus^2.

    Parameter choice (MEASURED, tools/recall_probe.py at sf0.01): sign
    agreement per bit at cosine c has probability 1 - arccos(c)/pi, so
    recall is regime-dependent. At the true NEAR-DUP regime (c>=0.9,
    p_bit~0.857) the default 8 bands x 8 bits recalls ~94% of pairs while
    keeping 256 buckets per band (bucket sizes ~N/256 — scale-safe). At
    the fixture's low c>=0.4 operating point the same banding recalls
    only ~29% (16x4 measures ~95% but with 16 buckets per band —
    bucket-local pairwise work ~N^2/16, which dies at 100 TB). The banded
    candidate definition is the CONTRACT (the oracle encodes the same
    bands), so the gate stays exact either way; pick (n_bands, band_bits)
    for the threshold regime you run at.
    """
    # unique_ids=True is the contract for keyed corpora (vec_id is a key
    # in the embeddings table): every pair then appears exactly once from
    # the joins below, matching the oracle's raw-join semantics, and NO
    # pair-level collapse is needed. The r3 shape ran a
    # groupBy(id_a,id_b).agg(first(va),first(vb)) "multiplicity guard"
    # AFTER the vector joins — a full shuffle of candidate rows carrying
    # TWO vectors each (candidates ≥ corpus under banding: 61k pairs vs
    # 2k vectors at sf0.1, and growing ~N²/buckets at scale) — measured
    # ~0.7 s of the query at sf0.1. With non-unique ids the guard now
    # runs at CORPUS scale instead (one first-per-id over N vector rows),
    # which is strictly smaller; that branch recomputes the dedupe per
    # consumer (3 scans) — persist upstream if the input is expensive.
    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if not unique_ids:
        src = src.groupBy("id").agg(F.first("v").alias("v"))

    keys = _sign_band_keys(src, n_bands, band_bits)
    a, b = keys.alias("a"), keys.alias("b")
    cand_ids = (
        a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket "
                         "AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )
    return _verify_cosine_pairs(_with_vec_norm(src), cand_ids, threshold,
                                dim=dim)


def _sign_band_keys(src: DataFrame, n_bands: int,
                    band_bits: int) -> DataFrame:
    """(id, band, bucket) sign-LSH keys of an (id, v) table. Candidate
    generation shuffles ONLY these rows — the float vectors never ride
    through the LSH join; they are joined back for surviving pairs.

    Built as one inline(array(struct(...))) selectExpr: the Column form
    paid ~8 py4j round trips per sign bit (~500 per call at 8x8) of
    plan-construction latency the bench bills to the query. Bucket
    VALUES are unchanged — same left-associated (bit*2+bit) chain, same
    INT cast (pinned by test_sign_band_keys_match_reference)."""
    def band_bucket_sql(b: int) -> str:
        bucket = "0"
        for j in range(band_bits):
            bit = (f"(CASE WHEN element_at(v, {b * band_bits + j + 1}) >= 0 "
                   f"THEN 1 ELSE 0 END)")
            bucket = f"({bucket} * 2 + {bit})"
        return f"CAST({bucket} AS INT)"

    structs = ",".join(
        f"struct({b} AS band, {band_bucket_sql(b)} AS bucket)"
        for b in range(n_bands))
    return src.selectExpr("id", f"inline(array({structs}))")


def _with_vec_norm(src: DataFrame) -> DataFrame:
    """(id, v, n): per-VECTOR double norms ride the verification joins —
    computed N times, not 2x|candidates| times (the r3 shape re-folded
    both norms per pair — the dominant interpreted-HOF cost at sf0.1:
    1.65 s -> 1.15 s for the pre-filter stage with norms hoisted)."""
    from . import similarity
    return src.selectExpr(
        "*", f"sqrt({similarity._fast_dot_sql('v', 'v')}) AS n")


def _verify_cosine_pairs(withn: DataFrame, cand_ids: DataFrame,
                         threshold: float,
                         dim: int | None = None) -> DataFrame:
    """Two-stage exact verification of candidate id pairs against an
    (id, v, n) table: the decimal-exact cosine is an interpreted
    higher-order-function expression (no codegen) — running it on every
    candidate dominated the query. A double-precision pre-filter at
    (threshold - 1e-6) is EXACT as a filter: double summation error over
    64 unit-scale products is bounded by ~64*2^-52 ~ 1e-14 relative, so
    no pair with exact cosine >= threshold can score below the margin
    (the tree-shaped fixed-width dot is pairwise summation — error at
    most the sequential bound). The expensive exact cosine then runs
    only on survivors. Pre-filter dot: `_fast_dot_fixed_sql` balanced tree
    when the caller pins `dim` (codegen'd; measured r7 0.69 s vs HOF
    0.87 s on the sf0.1 verify stage) — the left-deep unrolled chain and
    an Arrow pandas-UDF dot both MEASURED slower (chain 0.88 s; UDF
    3.8 s vs 1.9 s whole-query, r6)."""
    from . import similarity
    va = withn.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                      F.col("n").alias("na"))
    vb = withn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                      F.col("n").alias("nb"))
    cand = cand_ids.join(va, "id_a").join(vb, "id_b")
    dot_sql = (similarity._fast_dot_fixed_sql("va", "vb", dim)
               if dim is not None
               else similarity._fast_dot_sql("va", "vb"))
    fast = cand.selectExpr("*", f"({dot_sql} / (na * nb)) AS __fc")
    survivors = fast.filter(F.col("__fc") >= threshold - 1e-6)
    scored = survivors.selectExpr(
        "id_a", "id_b", f"{similarity.cosine_sql('va', 'vb')} AS cosine")
    return scored.filter(F.col("cosine") >= threshold)


def embedding_index_write(emb: DataFrame, path: str, n_bands: int = 8,
                          band_bits: int = 8, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> None:
    """Persist the sign-LSH state of an embedding corpus for incremental
    near-dup detection (the embedding twin of minhash_index_write).
    Layout: bands/ (id, band, bucket), vectors/ (id, v, n — norms
    precomputed once), meta/ (n_bands, band_bits pinned)."""
    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    _sign_band_keys(src, n_bands, band_bits) \
        .write.mode("overwrite").parquet(path + "/bands")
    _with_vec_norm(src).write.mode("overwrite").parquet(path + "/vectors")
    spark = emb.sparkSession
    spark.createDataFrame([(n_bands, band_bits)],
                          "n_bands int, band_bits int") \
        .coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def _staged_result(out: DataFrame, path: str) -> DataFrame:
    """Read-before-append barrier WITHOUT driver materialization (r6
    verdict item 5): the incremental paths must fully compute their
    result from the PRE-append index state before mutating the index —
    a lazy consumer would otherwise double-count the new entries. The
    former collect()+createDataFrame fence collected the batch's
    duplicate pairs onto the driver, unbounded under mass duplication;
    writing to a staging parquet under the index path and re-reading is
    the same barrier with no driver bytes, and works on any Hadoop
    filesystem the index itself lives on. Staging dirs are batch-scoped
    (uuid-named) and NOT auto-deleted — the returned DataFrame stays
    backed by them; call `clear_staging(spark, path)` once results are
    no longer referenced (the streaming processors do this after every
    sink call — r7 review: without it a long-running stream leaks one
    result dataset per micro-batch into the index directory forever)."""
    import uuid
    staging = f"{path}/_staging/{uuid.uuid4().hex}"
    out.write.parquet(staging)
    return out.sparkSession.read.parquet(staging)


def clear_staging(spark, path: str) -> None:
    """Remove every `_staged_result` barrier dataset under an index path.
    Safe whenever no returned incremental-result DataFrame is still
    referenced (they are lazily backed by these files)."""
    from .. import fsutil
    fsutil.delete(spark, path + "/_staging")


def embedding_dedup_incremental(spark, new_emb: DataFrame, path: str,
                                threshold: float = 0.4,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                append: bool = True) -> DataFrame:
    """Near-dup embedding pairs INVOLVING the new batch (new x new plus
    new x indexed), banded-candidate semantics identical to the batch
    embedding_cosine_dedup. Cost ∝ the new batch plus one equi-join
    against the stored band table; the indexed vectors are touched only
    for surviving pairs. With append (default), the batch's LSH state is
    added so consecutive batches see each other."""
    meta = spark.read.parquet(path + "/meta").head()
    n_bands, band_bits = meta["n_bands"], meta["band_bits"]

    src = new_emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    new_keys = _sign_band_keys(src, n_bands, band_bits).persist()
    new_vecs = _with_vec_norm(src).persist()
    old_keys = spark.read.parquet(path + "/bands")
    old_vecs = spark.read.parquet(path + "/vectors")

    def pairs_of(a: DataFrame, b: DataFrame) -> DataFrame:
        return (a.alias("a").join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b")))
    cand = (pairs_of(new_keys, new_keys)
            .unionAll(pairs_of(new_keys, old_keys))
            .unionAll(pairs_of(old_keys, new_keys))
            .distinct())
    out = _verify_cosine_pairs(old_vecs.unionByName(new_vecs), cand,
                               threshold)
    if append:
        out = _staged_result(out, path)   # barrier: compute pre-append
        new_keys.write.mode("append").parquet(path + "/bands")
        new_vecs.write.mode("append").parquet(path + "/vectors")
    return out


# --------------------------------------------------------------------------
# Dedup cluster formation (connected components + representative choice)
# --------------------------------------------------------------------------


def dedup_clusters(nodes: DataFrame, pairs: DataFrame | str,
                   id_col: str = "doc_id", max_iters: int = 20,
                   check_every: int = 1,
                   quality: DataFrame | None = None,
                   quality_col: str = "score") -> DataFrame:
    """Group near-dup PAIRS into CLUSTERS and pick one representative per
    cluster — the step that turns any pairwise dedup modality (Jaccard,
    MinHash, SimHash, embedding-cosine) into a keep/drop decision.

    Representative choice: min-id by default; pass `quality` (a
    DataFrame carrying `id_col` + `quality_col`) to keep the
    HIGHEST-SCORING member instead (ties and unscored-only clusters fall
    back to min id; unscored members never beat a scored one) — the
    curation shape where dedup keeps the best-quality copy (score from
    `text.quality_features`, `ngram_lm_score` negated perplexity, ...)
    rather than an arbitrary one. One extra metadata-scale join + one
    map-side-combinable agg; nothing touches the pair pipeline.

    `pairs` is an (id_a, id_b) DataFrame OR a parquet path string of one
    — the path form is the cold-start entry (r6 verdict item 7): a
    pipeline that already materialized its duplicate pairs (batch output,
    or the incremental paths' `_staging` results) clusters them without
    re-running any shingle/LSH pipeline.

    Connected components by iterative min-label propagation: every node
    starts labeled with its own id; each round, a node's label becomes the
    min of its own and its neighbors' labels; at fixpoint the label is the
    component's min id. Each round is one equi-join + one
    map-side-combinable min-aggregate — all hash-shuffle on ids, no
    driver-side graph. Rounds needed = component diameter, and near-dup
    clusters are star-like (diameter 2-3) because every member overlaps
    the same core content, so the loop converges in a handful of rounds;
    `max_iters` bounds pathological chains. Convergence is observed with
    one count action per `check_every` chained rounds (zero label changes
    in the LAST round of a chain implies fixpoint regardless of earlier
    rounds). Each action is a Spark job, but an unpersisted chained
    round's plan embeds its predecessor twice (neighbor branch + carry
    branch) — re-computing it. The default 1 therefore persists and
    checks every round (compute-optimal: the right trade at 100 TB where
    label shuffles dwarf job launches); small-corpus callers where the
    per-job launch constant dominates (the bench SFs) pass 2.

    Returns (id, cluster_id, cluster_size, is_representative) for EVERY
    node — singletons form their own cluster.
    """
    if isinstance(pairs, str):
        pairs = nodes.sparkSession.read.parquet(pairs)
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    # Materialize the pair list FIRST: the symmetric-edges union consumes
    # `pairs` twice, so a pair plan whose expensive stages are NOT
    # internally persisted (a raw join, a filtered scan) would run once
    # per branch. (For ngram_jaccard_pairs specifically the internal
    # shingle persists already dedupe the branches — this cache is the
    # guard for every OTHER pair source, at the cost of one tiny table.)
    e = (pairs.select(F.col("id_a").alias("src"),
                      F.col("id_b").alias("dst")).persist())
    e.count()
    edges = e.unionAll(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
    edges = edges.persist()
    labels = ids.withColumn("lbl", F.col("id")).persist()
    labels.count()
    # Unpersist must target the frame persist() was CALLED on: from round
    # 2 on `labels` is a Project over the cached `merged`, and unpersist
    # on the Project is a no-op (not sameResult with the cache entry) —
    # every round's cache would leak for the application lifetime (r6
    # ADVICE). Track the cached handle separately.
    cached = labels
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
    # in chains of `check_every` with one persist + one count action per
    # chain (see docstring).
    rounds_left = max_iters + 1
    while rounds_left > 0:
        chain = min(max(int(check_every), 1), rounds_left)
        rounds_left -= chain
        merged = one_round(labels)
        for _ in range(chain - 1):
            merged = one_round(merged.drop("__chg"))
        merged = merged.persist()
        # The count also MATERIALIZES merged — required before the
        # unpersist below, since merged's plan reads the previous cache.
        changed = merged.filter("__chg").count()
        cached.unpersist()
        cached = merged
        labels = merged.drop("__chg")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    e.unpersist()
    # The FINAL round's cache stays persisted deliberately: the returned
    # DataFrame is lazily derived from it (two consumers below) and an
    # eager unpersist here would recompute the whole iteration per
    # consumer. One bounded (id, lbl) table per call, released with the
    # session — not the per-round accumulation the leak fix above removes.
    if not converged:
        # Returning partially-propagated labels would silently split one
        # component into several clusters (wrong, and un-flagged vs an
        # exact transitive-closure oracle). Long chains are pathological
        # for near-dup graphs (star-like, diameter 2-3), so fail loudly —
        # and release the final round's cache first (r7 review: a caller
        # that catches and retries with a larger max_iters must not
        # accumulate one orphaned cache entry per failed attempt).
        cached.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iters={max_iters} "
            "rounds (component diameter exceeds the bound); raise max_iters")
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    if quality is None:
        rep = F.col("id") == F.col("lbl")
        out = labels.join(sizes, "lbl")
    else:
        q = quality.select(F.col(id_col).alias("id"),
                           F.col(quality_col).cast("double")
                           .alias("__score"))
        scored = (labels.join(q, "id", "left")
                  .withColumn("__score", F.coalesce(
                      F.col("__score"), F.lit(float("-inf")))))
        # min of (-score, id) = highest score, ties -> smallest id;
        # lexicographic struct ordering keeps this one agg, any id type
        best = (scored.groupBy("lbl")
                .agg(F.min(F.struct((-F.col("__score")).alias("ns"),
                                    F.col("id").alias("i"))).alias("b"))
                .select("lbl", F.col("b.i").alias("__rep")))
        rep = F.col("id") == F.col("__rep")
        out = labels.join(sizes, "lbl").join(best, "lbl")
    return out.select(
        F.col("id").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        rep.alias("is_representative"))


# --------------------------------------------------------------------------
# Incremental MinHash dedup (persisted LSH index + per-batch probe)
# --------------------------------------------------------------------------


def minhash_index_write(df: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 32,
                        bands: int = 16, k: int = 3) -> None:
    """Persist the MinHash-LSH state of a corpus so later batches dedup
    INCREMENTALLY against it (a daily-crawl pipeline must not re-shingle
    100 TB to admit 1% new documents).

    Layout under `path`: bands/ (id, band, bucket — the LSH join state),
    arrays/ (id, shs — per-doc shingle sets for exact verification), and
    meta/ (num_hashes, bands, k pinned so probes can't silently use a
    mismatched hash family)."""
    arrays = shingle_arrays(df, id_col, text_col, k).persist()
    sh = arrays.select("id", F.explode("shs").alias("shingle"))
    sig = _signature_from_rows(sh, num_hashes)
    entries = _band_entries_from_signature(sig, num_hashes, bands)
    entries.write.mode("overwrite").parquet(path + "/bands")
    arrays.write.mode("overwrite").parquet(path + "/arrays")
    spark = df.sparkSession
    spark.createDataFrame([(num_hashes, bands, k)],
                          "num_hashes int, bands int, k int") \
        .coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def minhash_dedup_incremental(spark, new_df: DataFrame, path: str,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              threshold: float = 0.5,
                              append: bool = True) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch: new x new plus new x
    indexed, verified with exact Jaccard against the stored shingle
    arrays. Cost is proportional to the NEW batch (its shingling,
    signatures, and band entries) plus one equi-join against the stored
    band table — the indexed corpus is never re-shingled. With append
    (default) the new batch's state is added to the index afterwards,
    so consecutive batches see each other.

    Returns (id_a, id_b, jaccard), id_a < id_b, exactly the pairs the
    batch `minhash_dedup` would emit over (indexed + new) that touch at
    least one new document."""
    meta = spark.read.parquet(path + "/meta").head()
    num_hashes, bands, k = meta["num_hashes"], meta["bands"], meta["k"]

    new_arrays = shingle_arrays(new_df, id_col, text_col, k).persist()
    sh = new_arrays.select("id", F.explode("shs").alias("shingle"))
    sig = _signature_from_rows(sh, num_hashes)
    new_entries = _band_entries_from_signature(sig, num_hashes, bands) \
        .persist()
    old_entries = spark.read.parquet(path + "/bands")
    old_arrays = spark.read.parquet(path + "/arrays")

    def pairs_of(a: DataFrame, b: DataFrame) -> DataFrame:
        return (a.alias("a").join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b")))
    cand = (pairs_of(new_entries, new_entries)
            .unionAll(pairs_of(new_entries, old_entries))
            .unionAll(pairs_of(old_entries, new_entries))
            .distinct())
    all_arrays = old_arrays.unionByName(new_arrays)
    out = _verify_jaccard(all_arrays, cand, threshold)
    if append:
        out = _staged_result(out, path)   # barrier: compute pre-append
        new_entries.write.mode("append").parquet(path + "/bands")
        new_arrays.write.mode("append").parquet(path + "/arrays")
    return out


def _band_entries_from_signature(sig: DataFrame, num_hashes: int,
                                 bands: int) -> DataFrame:
    """(id, band, bucket) rows of the banded signature (the shared join
    input of _lsh_pairs_from_signature and the persisted incremental
    index). One `inline(array(struct(...)))` selectExpr instead of
    nested Column calls: band/bucket VALUES are unchanged (same INT band
    literal, same xxhash64-over-concat_ws bucket — asserted bit-equal in
    the r13 A/B); what changes is plan-construction cost (~0.15 s fewer
    py4j round trips at 16 bands, billed to the query by the bench)."""
    rows_per_band = num_hashes // bands
    structs = ",".join(
        "struct({b} AS band, xxhash64(concat_ws(',', {cols})) AS bucket)"
        .format(b=b, cols=",".join(f"h{b * rows_per_band + r}"
                                   for r in range(rows_per_band)))
        for b in range(bands))
    return sig.selectExpr("id", f"inline(array({structs}))")


# --------------------------------------------------------------------------
# Incremental SimHash dedup (persisted chunk index + per-batch probe)
# --------------------------------------------------------------------------


def _simhash_chunks(sim: DataFrame) -> DataFrame:
    """(id, simhash, chunk_idx, chunk) blocking rows of an (id, simhash)
    table — the persisted/probed form of simhash_near_dups' join input."""
    return sim.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_idx"),
                     F.shiftrightunsigned(F.col("simhash"), c * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
            for c in range(4)
        ])).alias("ch"),
    ).select("id", "simhash", "ch.chunk_idx", "ch.chunk")


def simhash_index_write(df: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text") -> None:
    """Persist the SimHash chunk-blocking state (the third incremental
    dedup modality next to minhash_index_write / embedding_index_write).
    Layout: chunks/ (id, simhash, chunk_idx, chunk)."""
    sim = simhash64(df, id_col, text_col)
    _simhash_chunks(sim).write.mode("overwrite").parquet(path + "/chunks")


def simhash_dedup_incremental(spark, new_df: DataFrame, path: str,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              max_hamming: int = 3,
                              append: bool = True) -> DataFrame:
    """SimHash near-dup pairs INVOLVING the new batch: hash only the new
    documents, equi-join their 16-bit chunks against the stored chunk
    table (new x new plus new x indexed — pigeonhole blocking is
    symmetric, so probing the union of directions is exact), verify with
    bit_count on the XOR, append the batch's chunks."""
    new_chunks = _simhash_chunks(
        simhash64(new_df, id_col, text_col)).persist()
    old_chunks = spark.read.parquet(path + "/chunks")

    def pairs_of(a: DataFrame, b: DataFrame) -> DataFrame:
        return (a.alias("a").join(
            b.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b")))
    cand = (pairs_of(new_chunks, new_chunks)
            .unionAll(pairs_of(new_chunks, old_chunks))
            .unionAll(pairs_of(old_chunks, new_chunks))
            .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (cand.withColumn("hamming", hamming)
           .filter(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b", "hamming"))
    if append:
        out = _staged_result(out, path)   # barrier: compute pre-append
        new_chunks.write.mode("append").parquet(path + "/chunks")
    return out


# --------------------------------------------------------------------------
# Incremental exact dedup (persisted fingerprint set + per-batch anti-join)
# --------------------------------------------------------------------------


def exact_index_write(df: DataFrame, path: str, key_cols: list[str],
                      id_col: str) -> None:
    """Persist the exact-dedup fingerprint set: one (key-hash, keep_id)
    row per distinct key. xxhash64 keys shuffle as 8-byte longs; the raw
    key columns ride along so verification never depends on collision
    freedom (same rule as every other hashed join in this module)."""
    (df.groupBy(*key_cols)
     .agg(F.min(id_col).alias("keep_id"))
     .withColumn("__kh", F.xxhash64(*key_cols))
     .write.mode("overwrite").parquet(path + "/keys"))


def exact_dedup_incremental(spark, new_df: DataFrame, path: str,
                            key_cols: list[str], id_col: str,
                            append: bool = True) -> DataFrame:
    """Classify a new batch against the persisted fingerprint set:
    (id, is_new, keep_id) — is_new=False rows duplicate an indexed key
    (keep_id = the indexed representative); within-batch duplicates
    collapse to the batch's min id first. Cost ∝ the batch plus one
    equi-join on the 8-byte key hash (raw-key equality as residual);
    with append, only the batch's genuinely new keys are added."""
    batch = (new_df.groupBy(*key_cols)
             .agg(F.min(id_col).alias("batch_keep"),
                  F.collect_list(id_col).alias("__ids"))
             .withColumn("__kh", F.xxhash64(*key_cols)))
    old = spark.read.parquet(path + "/keys")
    cond = [batch["__kh"] == old["__kh"]] + [
        batch[c].eqNullSafe(old[c]) for c in key_cols]
    joined = batch.join(old, cond, "left") \
        .select(batch["__kh"].alias("__kh"),
                *[batch[c] for c in key_cols],
                "batch_keep", "__ids",
                old["keep_id"].alias("__old_keep"))
    out = (joined.select(
        F.explode("__ids").alias("id"),
        F.col("__old_keep").isNull().alias("__key_new"),
        F.coalesce("__old_keep", "batch_keep").alias("keep_id"))
        .select("id",
                (F.col("__key_new") & (F.col("id") == F.col("keep_id")))
                .alias("is_new"), "keep_id"))
    if append:
        out = _staged_result(out, path)   # barrier: compute pre-append
        (joined.filter(F.col("__old_keep").isNull())
         .select(*key_cols, F.col("batch_keep").alias("keep_id"), "__kh")
         .write.mode("append").parquet(path + "/keys"))
    return out


# --------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr variant, at token
# granularity)
# --------------------------------------------------------------------------


def window_occurrences(df: DataFrame, id_col: str, text_col: str,
                       window: int = 12) -> DataFrame:
    """Every fixed-width token window of every document, one row per
    occurrence: (id, pos, win). Windows are built JVM-side with
    transform-over-sequence (no Python), then posexploded; docs shorter
    than `window` tokens emit nothing (a doc-length duplicate of a short
    doc is exact dedup's job, not substring dedup's).

    Tokenization is the package tokenizer (`text.tokens_expr`: lower, trim,
    split on whitespace) so the same oracle CTE text applies.
    """
    toks = F.expr(tokens_expr(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - F.lit(window))
    wins = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window)))
    return (df.filter(n >= window)
            .select(F.col(id_col),
                    F.posexplode(wins).alias("pos", "win")))


def duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                    window: int = 12,
                    materialize: bool = True) -> DataFrame:
    """Maximal duplicated token spans per document: merge every
    fixed-width window whose exact text occurs more than once in the
    corpus (any doc, including the same one) into per-doc islands.
    Returns (id_col, span_start, span_end, n_windows) with token-index
    half-open spans [span_start, span_end). The returned frame is
    eagerly localCheckpoint-ed (the window-occurrence barrier is
    released before returning, so re-computation without the
    materialized copy would re-pay the generate-feeds-join trap);
    unlike a persist() this needs no caller-side unpersist — the
    ContextCleaner reclaims the checkpoint blocks once the frame is
    unreferenced (the registry query cannot unpersist after returning
    its DataFrame — review finding). Trade-off: localCheckpoint blocks
    do not survive executor loss; on a lossy cluster, recompute or
    reliable-checkpoint instead.

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
    to `window`-token granularity — maximal duplicated runs shorter than
    `window` are missed and span edges can overhang a true duplicate run
    by up to window-1 tokens; that approximation is what makes the op a
    pure groupBy/join plan.
    """
    rows = window_occurrences(df, id_col, text_col, window)
    rows = rows.withColumn("__h", F.xxhash64("win"))
    if materialize:
        # Persist barrier: `rows` (a generator output) feeds both the
        # candidate agg and the occurrence join — without it,
        # InferFiltersFromGenerate pushes a size()>0 predicate
        # containing the whole window-construction expression below
        # the join input (the r6 contamination trap).
        rows = rows.persist()
    cand_h = (rows.groupBy("__h").count()
              .filter(F.col("count") > 1).select("__h"))
    cand = rows.join(cand_h, "__h", "left_semi")
    win_cnt = (cand.groupBy("win").count()
               .filter(F.col("count") > 1).select("win"))
    occ = cand.join(win_cnt, "win", "left_semi")
    out = _merge_islands(occ, id_col, window)
    if not materialize:
        # materialize=False returns the LAZY full composition — for
        # plan inspection/tests only (a checkpointed frame's plan is
        # just an RDD scan, which pins nothing — second review); an
        # action on it re-pays the generate-feeds-join trap.
        return out
    # eager localCheckpoint materializes before the barrier is released
    out = out.localCheckpoint()
    rows.unpersist()
    return out


def _merge_islands(occ: DataFrame, id_col: str, window: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated window occurrences
    (id, pos, ...) into per-doc spans — lag + running sum partitioned by
    id, no global sort."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = occ.withColumn(
        "__b",
        (F.col("pos") >
         F.coalesce(F.lag("pos").over(w), F.lit(-window - 1)) + window)
        .cast("int"))
    grp = brk.withColumn(
        "__g", F.sum("__b").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (grp.groupBy(id_col, "__g")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + window).cast("long").alias("span_end"),
                 F.count("*").alias("n_windows"))
            .drop("__g")
            .select(id_col, "span_start", "span_end", "n_windows"))


def remove_duplicate_spans(df: DataFrame, spans: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """Rewrite each document with every duplicated span's tokens removed
    (ALL occurrences — the behavior of the released ExactSubstr tool; a
    keep-one policy would need a global per-window occurrence ranking
    that merged spans make ill-defined). Returns
    (id_col, clean_text, n_removed_tokens); every doc comes back in the
    module's normalized token form (lower/trim, single-space joined —
    the convention the spans were computed under), spans-free docs with
    n_removed_tokens = 0.

    Spans aggregate to one array per doc (bounded by doc length / window)
    and join back on the id — one equi-join, token filtering is a JVM
    higher-order filter/exists over the token array, no Python.
    """
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    toks = F.expr(tokens_expr(text_col))
    joined = df.join(agg, id_col, "left")
    spans_arr = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    idxed = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(
        idxed,
        lambda p: ~F.exists(
            spans_arr,
            lambda s: (p["i"] >= s["span_start"]) &
                      (p["i"] < s["span_end"])))
    return joined.select(
        id_col,
        F.concat_ws(" ", F.transform(kept, lambda p: p["t"]))
         .alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long")
         .alias("n_removed_tokens"))


def substring_index_write(df: DataFrame, path: str, id_col: str = "doc_id",
                          text_col: str = "text",
                          window: int = 12) -> None:
    """Persist the substring-dedup window index: one row per DISTINCT
    window string — (__h, win, cnt). The hash column shuffles joins as
    8-byte longs; the string rides along so incremental confirmation
    never depends on collision freedom (module rule). Index size is
    ∝ distinct windows × window tokens — the same order as the corpus
    itself, which is what any exact-substring method pays (a suffix
    array is corpus-sized too); store it columnar-compressed and cold.

    Layout: every writer owns a PARTITION DIRECTORY under wins/
    (part=base here, part=<delta_name> for incremental deltas) so each
    write is an idempotent directory overwrite — re-delivering a batch
    replaces its own delta instead of double-appending counts into the
    sum-on-read index (review finding: a crash between a plain append
    and the stream's applied-marker write would otherwise corrupt
    every future count).
    """
    rows = window_occurrences(df, id_col, text_col, window)
    (rows.groupBy("win").agg(F.count("*").alias("cnt"))
     .withColumn("__h", F.xxhash64("win"))
     .write.mode("overwrite").parquet(path + "/wins/part=base"))


def duplicate_spans_incremental(spark, new_df: DataFrame, path: str,
                                id_col: str = "doc_id",
                                text_col: str = "text", window: int = 12,
                                append: bool = True,
                                replay: bool = False,
                                delta_name: str | None = None) -> DataFrame:
    """Duplicated spans for a NEW batch against the persisted window
    index: a batch window is duplicated iff its corpus-wide count
    (index + batch) exceeds 1 — so the spans returned for batch docs are
    IDENTICAL to what a full-corpus `duplicate_spans` re-run would
    return for them (proven by test), at per-batch cost: the batch's
    windows join the index on (__h, win) — 8-byte hash key with string
    residual — and nothing rescans history. Docs already in the corpus
    whose text becomes retroactively duplicated by this batch are NOT
    re-flagged (same new-vs-old contract as every incremental twin in
    this module); a periodic full `duplicate_spans` compaction picks
    those up.

    With append, the batch's window counts land in their OWN partition
    directory wins/part=<delta_name> (a fresh uuid name when None) via
    an idempotent mode=overwrite write — re-running the same
    delta_name REPLACES the delta instead of double-counting it, which
    closes the crash window between a streaming batch's append and its
    applied-marker write (review finding: with a plain file append,
    one crash there would permanently inflate every count). The index
    is sum-on-read (the groupBy below), so appends stay ∝ batch;
    compact by rewriting part=base from the summed table when delta
    dirs accumulate. The result rides the `_staged_result` barrier
    (computed against the PRE-append index); call `clear_staging` when
    done.

    replay=True is the at-least-once re-delivery mode for UNNAMED
    deltas: the index already holds this batch's delta, so the
    duplicate condition is the index count alone — adding the batch's
    counts again would flag every unique batch window as duplicated
    (count 1+1), a WRONG answer, not merely a duplicated row. When
    delta_name IS given, self-exclusion (filter own partition, always
    add the batch once) supersedes it — one formula that is also
    correct in the crash window where the delta landed but the marker
    did not, which the replay flag alone cannot distinguish.
    """
    rows = window_occurrences(new_df, id_col, text_col, window)
    rows = rows.withColumn("__h", F.xxhash64("win"))
    rows = rows.persist()            # generate-feeds-join barrier
    base = _wins_dir(spark, path)    # resolve gen layout / heal legacy
    idx_raw = spark.read.parquet(base + "/wins")
    if delta_name is not None:
        # SELF-EXCLUSION: drop this batch's own delta partition from
        # the sum-on-read, then always add the batch's counts once —
        # correct on the first run (no such partition), on a replay
        # after the marker (own delta present), AND in the crash
        # window between delta write and marker (own delta present,
        # append re-runs) — the three cases collapse to one formula,
        # so `replay` is ignored when deltas are named.
        idx_raw = idx_raw.filter(F.col("part") != delta_name)
        replay = False
    idx = idx_raw.groupBy("__h", "win").agg(F.sum("cnt").alias("cnt"))
    bc = rows.groupBy("__h", "win").agg(F.count("*").alias("bcnt"))
    total = (F.lit(0) if replay else F.col("bcnt")) \
        + F.coalesce(F.col("cnt"), F.lit(0))
    dup_wins = (bc.join(idx, ["__h", "win"], "left")
                .filter(total > 1)
                .select("__h", "win"))
    occ = rows.join(dup_wins, ["__h", "win"], "left_semi")
    out = _staged_result(_merge_islands(occ, id_col, window), path)
    if append:
        import uuid
        name = delta_name if delta_name is not None else uuid.uuid4().hex
        (bc.select("win", F.col("bcnt").alias("cnt"), "__h")
         .write.mode("overwrite").parquet(f"{base}/wins/part={name}"))
    rows.unpersist()
    return out


#: Hidden (never scanned by Spark) manifest the compaction writes into the
#: NEW generation listing the partitions it folded into part=base — the
#: fact a crash-recovery needs to finish the carry-over without
#: double-counting (r8 advice item).
_FOLDED_MANIFEST = "_folded.txt"


def _heal_wins(spark, path: str) -> None:
    """Auto-heal the two `substring_index_compact` crash windows (r8
    advice item — previously a crash between the wins->wins.old rename
    and the staging->wins rename left NO live wins/, every incremental
    read failed, and a compact re-run silently no-op'd on the empty
    snapshot instead of recovering):

    1. wins/ absent or empty, wins.old present: the rename-aside
       happened but the staging swap did not — the complete previous
       generation is wins.old; rename it back.
    2. both present: the swap happened but the in-flight-delta
       carry-over did not finish — finish it from the folded manifest
       the compaction wrote into the new generation (children of
       wins.old NOT in the manifest are unfolded deltas; move them in),
       then drop wins.old. Without a manifest (pre-manifest state) the
       split is unknowable, so the heal leaves wins.old untouched
       rather than risk double-counting a folded delta.

    Idempotent and cheap (directory listings + renames, no data reads);
    called at compact entry and before every incremental index read.
    """
    from .. import fsutil
    wins, old = path + "/wins", path + "/wins.old"
    if not fsutil.exists(spark, old):
        return
    live = [n for n in fsutil.listdir(spark, wins)
            if not n.startswith(("_", "."))]
    if not live:
        fsutil.delete(spark, wins)          # empty husk blocks the rename
        if not fsutil.rename(spark, old, wins):
            raise RuntimeError(
                f"heal: could not restore {old} to {wins}; index "
                "unavailable until manual recovery")
        return
    manifest = fsutil.read_text(spark, f"{wins}/{_FOLDED_MANIFEST}")
    if manifest is None:
        return                              # unknowable split — keep .old
    folded = set(manifest.split())
    for name in fsutil.listdir(spark, old):
        if name.startswith(("_", ".")):
            continue
        if name not in folded and not fsutil.exists(spark, f"{wins}/{name}"):
            fsutil.rename(spark, f"{old}/{name}", f"{wins}/{name}")
    fsutil.delete(spark, old)


def _wins_dir(spark, path: str) -> str:
    """Resolved directory holding the window index's wins/ data: the
    latest committed generation when the pointer layout is present
    (`fsutil.gen_*` — every compaction since r8 publishes one), else the
    legacy root, healed first (`_heal_wins` — only the pre-gen
    rename-aside compaction could have left a crashed swap there).
    Resolving a generation also finishes a superseded generation's
    carry-over (`_wins_finish_gc`), so it runs before every read."""
    from .. import fsutil
    cur = fsutil.gen_current(spark, path)
    if cur is None:
        _heal_wins(spark, path)
        return path
    _wins_finish_gc(spark, path)
    return cur


def _wins_finish_gc(spark, path: str) -> None:
    """Post-commit half of the generation-pointer compaction: carry into
    the CURRENT generation every wins/ child of superseded state (an
    older generation, or the legacy root being migrated) that the
    compaction did not fold — in-flight deltas and deltas that landed
    after its snapshot, identified as 'absent from the current
    generation's folded manifest' — then drop the superseded state.
    Idempotent and metadata-only (listings + renames); a crash at any
    point re-runs cleanly, which is why this can live on the read path
    where the old three-state wins/wins.old/staging disambiguation
    (`_heal_wins`) needed a per-generation manifest AND a refusal case.
    """
    from .. import fsutil
    cur = fsutil.gen_current(spark, path)
    if cur is None:
        return
    manifest = fsutil.read_text(spark, f"{cur}/wins/{_FOLDED_MANIFEST}")
    if manifest is None:
        # a generation without a manifest was not written by the
        # compaction — nothing to finish, and deleting superseded state
        # without knowing the folded set could double-count; leave it
        return
    folded = set(manifest.split())
    cur_n = int(cur.rsplit("=", 1)[1])
    prevs = [f"{path}/{name}"
             for n, name, _ in fsutil.gen_list(spark, path) if n < cur_n]
    if fsutil.exists(spark, path + "/wins"):
        prevs.append(path)                    # legacy root, mid-migration
    for prev in prevs:
        for name in fsutil.listdir(spark, f"{prev}/wins"):
            if name.startswith(("_", ".")):
                continue
            if (name not in folded
                    and not fsutil.exists(spark, f"{cur}/wins/{name}")):
                fsutil.rename(spark, f"{prev}/wins/{name}",
                              f"{cur}/wins/{name}")
    fsutil.gen_gc(spark, path, legacy_subs=("wins",))


def substring_index_compact(spark, path: str) -> None:
    """Compact the sum-on-read window index: fold the committed
    partitions into one summed part=base inside the NEXT GENERATION
    directory (`fsutil.gen_*`), publish it with one atomic marker-file
    create, and let `_wins_finish_gc` carry the unfolded remainder over
    and drop the superseded generation. Run it when delta directories
    accumulate (each adds a read-side union + re-aggregation); cost is
    one scan of the index, never the corpus.

    Streaming-safety:
    - IN-FLIGHT deltas are NEVER folded: with an `applied/` marker
      present, any part=bN with N > the recorded batch_id is in the
      crash window between its delta write and the marker — folding it
      into base would defeat that batch's self-exclusion on redelivery
      (unique windows flagged duplicated AND double-counted forever).
      They are carried over by the finish-gc sweep (they are absent
      from the folded manifest), as is anything a concurrent writer
      lands after the snapshot.
    - Crash anywhere before `gen_commit`: the old generation is still
      the one readers resolve; the partial build is collected by the
      next `gen_begin`. Crash after commit: the sweep is idempotent and
      re-runs at every subsequent resolve. There is no rename on the
      commit path and no unrecoverable window — the legacy compaction's
      wins.old machinery survives only to heal indexes crashed under
      the pre-gen code.
    """
    from .. import fsutil
    base = _wins_dir(spark, path)   # heal legacy / sweep superseded gens
    if fsutil.exists(spark, path + "/wins.old"):
        # _heal_wins deliberately preserved it (pre-manifest crash, split
        # unknowable) — compacting now would strand any unfolded delta
        # forever (r8 review finding). Refuse instead.
        raise RuntimeError(
            f"compact: unresolved {path}/wins.old from a pre-manifest "
            "crash — fold or remove it manually before compacting")
    snapshot = set(fsutil.listdir(spark, base + "/wins"))
    last = fsutil.read_applied_batch(spark, path)
    fold: list[str] = []
    for name in snapshot:
        if name.startswith(("_", ".")):
            continue
        val = name.split("=", 1)[1] if "=" in name else name
        if (val.startswith("b") and val[1:].isdigit()
                and int(val[1:]) > last):
            pass                                # in-flight: sweep carries
        else:
            fold.append(name)
    if not fold:
        return
    summed = (spark.read.parquet(
                  *[f"{base}/wins/{n}" for n in fold])
              .drop("part")
              .groupBy("__h", "win").agg(F.sum("cnt").alias("cnt"))
              .select("win", "cnt", "__h"))
    build = fsutil.gen_begin(spark, path)
    summed.write.parquet(build + "/wins/part=base")
    # folded manifest: the fact the finish-gc sweep needs to carry the
    # remainder over without double-counting a folded delta
    fsutil.write_text(spark, f"{build}/wins/{_FOLDED_MANIFEST}",
                      "\n".join(sorted(fold)))
    fsutil.gen_commit(spark, build)
    _wins_finish_gc(spark, path)
