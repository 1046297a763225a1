"""Keyword retrieval (BM25) and hybrid rank fusion.

The retrieval surface a training-data pipeline needs next to the ANN
family (operators.similarity): exact keyword search over the corpus for
contamination audits ("which training docs contain this eval phrase"),
curation spot-checks, and hybrid dedup candidate generation — BM25
(Robertson et al., the public Okapi formulation) plus reciprocal-rank
fusion (Cormack et al. 2009) to combine a keyword leg with an
embedding-cosine leg.

Spark-first shapes:

- `postings` — the inverted index as a DataFrame: one explode + one
  map-side-combinable groupBy to (term, doc_id, tf). At 100 TB this
  table is written once (bucket or hive-partition by term hash) and
  every query is a broadcast semi-join against it — the scan prunes to
  the query's terms, never re-reading the corpus.
- `bm25_topk` — score one query: broadcast the (few-term) query table,
  equi-join postings → df-table idf join → per-doc sum →
  TakeOrderedAndProject top-k. No shuffle touches the corpus; the only
  wide operation is the per-doc partial-aggregated sum over matched
  postings (work ∝ matched postings, not corpus).
- `rrf_fuse` — reciprocal-rank fusion over any number of ranked legs:
  union the (doc_id, rank) frames, sum 1/(k0+rank). Ranks are integers
  (ties broken by doc id, so legs are deterministic), which keeps
  fusion rerun-stable where raw-score fusion would not be.

Correctness gates: the tokenize→postings sufficient statistics are
exact integers, hash-gated cross-engine (dedup_exact kind='bm25' — the
oracle rebuilds the postings table in DuckDB with the same
trim(lower)/\\s+ tokenization the span oracle already uses). The float
BM25 scoring and the fusion arithmetic are pinned against driver-only
python twins at 1e-9 (the classifier-twin pattern: ln() may differ in
the last ulp across engines, so cross-ENGINE hashing of scores would
gate libm, not the plan).

Reference scope note: the reference engine (S3→Kinesis replay) has no
search surface; this module is part of the SURVEY §6 LLM-pipeline
extension tier.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import token_count_expr, tokens_expr

#: Okapi defaults (public BM25 formulation).
K1 = 1.2
B = 0.75
#: RRF smoothing constant (Cormack et al. 2009 use 60).
RRF_K0 = 60


def postings(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Inverted index rows (term, id, tf): one explode + one groupBy
    (map-side combinable — tf partials fold before the shuffle). Uses
    the package-wide tokenizer (`text.tokens_expr`: split(trim(lower),
    \\s+)), so retrieval, dedup shingles, and classifier features all
    agree on token boundaries."""
    return (docs.selectExpr(f"{id_col} AS id",
                            f"explode({tokens_expr(text_col)}) AS term")
            .groupBy("term", "id")
            .agg(F.count("*").cast("long").alias("tf")))


def doc_lengths(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, dl) token counts — the BM25 length-normalization table.
    Pure projection (no shuffle); dl counts ALL tokens, consistent with
    `postings` (Σ tf per doc == dl, an invariant the tests pin)."""
    return docs.selectExpr(
        f"{id_col} AS id",
        f"CAST({token_count_expr(text_col)} AS BIGINT) AS dl")


def df_table(post: DataFrame) -> DataFrame:
    """(term, df) document frequencies from the postings table — a
    metadata-scale aggregate (≤ vocabulary rows), map-side combinable."""
    return post.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def bm25_topk(docs: DataFrame, query: str, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = K1, b: float = B) -> DataFrame:
    """Top-k documents for a whitespace query under Okapi BM25:

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Plan: postings ⨝ broadcast(query terms) confines everything to the
    query's terms; df idf-join is metadata-scale; the N/avgdl scalars
    ride a broadcast 1-row anchor (no driver round-trip in the plan);
    per-doc sum is a partial-aggregated groupBy over matched postings;
    TakeOrderedAndProject caps the result. Deterministic tie-break:
    (score DESC, id ASC) — and duplicate query terms are WEIGHTED (a
    term appearing twice in the query counts twice, the standard bag
    semantics; the python twin mirrors this)."""
    from ..functions.xxh import tokens_spark
    spark = docs.sparkSession
    terms = tokens_spark(query)        # one tokenizer everywhere
    if not any(terms):
        raise ValueError("empty query")
    weights: dict[str, int] = {}
    for t in terms:
        weights[t] = weights.get(t, 0) + 1
    q_df = spark.createDataFrame(sorted(weights.items()),
                                 "term string, qw long")
    post = postings(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = dl.agg(F.count("*").cast("long").alias("n_docs"),
                   F.sum("dl").cast("long").alias("sum_dl"))
    dfreq = df_table(post)
    matched = (post.join(F.broadcast(q_df), "term")
               .join(F.broadcast(dfreq.join(F.broadcast(q_df), "term")
                                 .select("term", "df")), "term")
               .join(dl, "id")
               .crossJoin(F.broadcast(stats)))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b)
                              * F.col("dl") / avgdl)
    contrib = F.col("qw") * idf * tf * F.lit(k1 + 1.0) / denom
    return (matched.groupBy("id")
            .agg(F.sum(contrib).alias("score"))
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(k))


def py_reference_bm25(rows, query: str, k: int = 10,
                      k1: float = K1, b: float = B) -> list[tuple]:
    """Driver-only twin of bm25_topk over (id, text) tuples — same
    tokenizer twin (tokens_spark), same formula, same tie-break."""
    from ..functions.xxh import tokens_spark
    toks = {i: tokens_spark(t) for i, t in rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    q = tokens_spark(query)
    dfreq: dict[str, int] = {}
    for tlist in toks.values():
        for t in set(tlist):
            dfreq[t] = dfreq.get(t, 0) + 1
    scores = []
    for i, tlist in toks.items():
        s = 0.0
        for t in q:                       # bag semantics: dup terms count
            tf = tlist.count(t)
            if tf == 0 or t not in dfreq:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * len(tlist) / avgdl))
        if s > 0.0:
            scores.append((i, s))
    scores.sort(key=lambda x: (-x[1], x[0]))
    return scores[:k]


def rrf_fuse(legs: list[DataFrame], k0: int = RRF_K0,
             k: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion: each leg is a ranked frame with an `id`
    column already ordered best-first (e.g. bm25_topk output, or an
    ann_topk cosine list). Fused score = Σ_legs 1/(k0 + rank), rank
    1-based within each leg. Ranks are assigned here from each leg's
    own (score DESC, id) order via a window over the LEG's rows only —
    legs are top-k sized (bounded), so the single-partition window is
    metadata-scale, not a corpus sort. Raw scores never mix, which is
    the point of RRF: legs with incomparable score scales (BM25 vs
    cosine) fuse by position only."""
    from pyspark.sql import Window
    ranked = []
    for li, leg in enumerate(legs):
        cols = set(leg.columns)
        order = [F.col("score").desc()] if "score" in cols else []
        order.append(F.col("id").asc())
        w = Window.orderBy(*order)
        ranked.append(leg.select(
            "id", F.row_number().over(w).alias("rank"),
            F.lit(li).alias("leg")))
    allr = ranked[0]
    for r in ranked[1:]:
        allr = allr.unionByName(r)
    fused = (allr.groupBy("id")
             .agg(F.sum(F.lit(1.0) / (F.lit(float(k0)) + F.col("rank")))
                  .alias("rrf"),
                  F.count("*").cast("long").alias("n_legs"))
             .orderBy(F.col("rrf").desc(), F.col("id").asc()))
    return fused.limit(k) if k else fused


def py_reference_rrf(leg_ids: list[list], k0: int = RRF_K0) -> list[tuple]:
    """Driver twin of rrf_fuse over lists of ids (best-first)."""
    acc: dict = {}
    for ids in leg_ids:
        for r, i in enumerate(ids, start=1):
            s, c = acc.get(i, (0.0, 0))
            acc[i] = (s + 1.0 / (k0 + r), c + 1)
    out = [(i, s, c) for i, (s, c) in acc.items()]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


# -- persisted retrieval index (the 100 TB query path) ----------------------

def retrieval_index_write(docs: DataFrame, path: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          n_term_buckets: int = 64) -> None:
    """Build the persisted inverted index: postings hive-partitioned by
    tb = pmod(xxhash64(term), n_term_buckets), so a query's scan prunes
    to its terms' buckets at FILE LISTING (the IVF-index pattern,
    similarity.ivf_index_write). Postings are DENORMALIZED with the
    doc length (one extra long per row) — the classic search-engine
    trade that removes the corpus-scale doclen join from every query.

    Layout (all writes idempotent mode=overwrite):
      postings/delta=0/tb=<b>/...   (term, id, tf, dl)
      stats/delta=0/                ONE row (n_docs, sum_dl)
      meta/                         ONE row (n_term_buckets)

    `delta=` is the incremental axis: `retrieval_index_append` adds
    delta=<batch_id> slices; a query reads the whole tree (partition
    discovery exposes delta+tb) and sums the per-delta stats rows
    (#deltas rows — metadata scale). Appends require DISJOINT doc ids
    vs the existing index (the same contract as every incremental
    family here); replayed appends OVERWRITE their own delta dir, so
    redelivery is idempotent with no marker machinery.
    `retrieval_index_compact` folds accumulated deltas into one base
    slice under a generation-pointer publish (fsutil.gen_*); readers
    resolve the latest committed generation, so this write is the
    LEGACY-root layout that the first compaction migrates in place."""
    from .. import fsutil
    spark = docs.sparkSession
    # a full rebuild supersedes ANY committed generation — readers
    # prefer generations over the root, so stale gens must go first
    for _n, name, _c in fsutil.gen_list(spark, path):
        fsutil.delete(spark, f"{path}/{name}")
    _write_index_delta(docs, path, 0, id_col, text_col, n_term_buckets)
    spark.createDataFrame([(int(n_term_buckets),)],
                          "n_term_buckets long") \
        .coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def retrieval_index_append(docs_batch: DataFrame, path: str,
                           batch_id: int,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> None:
    """Fold a new batch into the persisted index under its OWN
    delta=<batch_id> slice (cost ∝ batch, never corpus; idempotent on
    redelivery because the slice is overwritten by name). Doc ids must
    be disjoint from every other delta — df/tf additivity depends on
    it. Single-writer, like every index family here. A batch_id at or
    below the current generation's folded watermark is a REPLAY of a
    compacted batch: its rows are already in the base slice, so the
    append no-ops (re-writing the slice would double-count).

    Crash window: the postings slice and its stats slice are two
    writes; a crash between them leaves the delta's postings visible
    with its N/avgdl contribution missing (scores skew slightly until
    redelivery overwrites BOTH slices by name and heals it). Bounded,
    self-healing, and the same at-least-once class as the pair-sink
    modalities — called out here rather than hidden."""
    from .. import fsutil
    if batch_id <= 0:
        raise ValueError("batch_id must be > 0 (0 is the base build)")
    spark = docs_batch.sparkSession
    base = fsutil.gen_resolve(spark, path)
    folded = fsutil.read_text(spark, base + "/folded_max.txt")
    if folded is not None and int(batch_id) <= int(folded.strip()):
        return
    n_tb = int(spark.read.parquet(path + "/meta")
               .head()["n_term_buckets"])
    _write_index_delta(docs_batch, base, int(batch_id),
                       id_col, text_col, n_tb)


def _write_index_delta(docs, path, delta, id_col, text_col, n_tb):
    post = postings(docs, id_col, text_col) \
        .join(doc_lengths(docs, id_col, text_col), "id") \
        .withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(int(n_tb))))
    post.write.mode("overwrite").partitionBy("tb") \
        .parquet(f"{path}/postings/delta={delta}")
    dl = doc_lengths(docs, id_col, text_col)
    dl.agg(F.count("*").cast("long").alias("n_docs"),
           F.sum("dl").cast("long").alias("sum_dl")) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{path}/stats/delta={delta}")


def bm25_topk_indexed(spark, path: str, query: str, k: int = 10,
                      k1: float = K1, b: float = B) -> DataFrame:
    """Query the persisted index: the postings scan carries
    PartitionFilters on tb (only the query terms' buckets are listed,
    ~len(query)/n_term_buckets of the index at most), df is exact from
    the pruned read itself (a bucket holds EVERY posting of its terms,
    across all deltas), and N/avgdl come from the per-delta stats rows.
    Same scores as `bm25_topk` on the same corpus (pinned by test)."""
    from .. import fsutil
    from ..functions.xxh import tokens_spark, xxh64_string
    terms = tokens_spark(query)
    if not any(terms):
        raise ValueError("empty query")
    weights: dict[str, int] = {}
    for t in terms:
        weights[t] = weights.get(t, 0) + 1
    base = fsutil.gen_resolve(spark, path)
    n_tb = int(spark.read.parquet(path + "/meta")
               .head()["n_term_buckets"])
    buckets = sorted({xxh64_string(t) % n_tb for t in weights})
    st = spark.read.parquet(base + "/stats") \
        .agg(F.sum("n_docs").cast("long").alias("n_docs"),
             F.sum("sum_dl").cast("long").alias("sum_dl")).head()
    n_docs, sum_dl = int(st["n_docs"]), int(st["sum_dl"])
    q_df = spark.createDataFrame(sorted(weights.items()),
                                 "term string, qw long")
    post = (spark.read.parquet(base + "/postings")
            .filter(F.col("tb").isin([int(x) for x in buckets]))
            .join(F.broadcast(q_df), "term"))
    dfreq = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    matched = post.join(F.broadcast(dfreq), "term")
    avgdl = sum_dl / n_docs
    idf = F.log(F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b)
                              * F.col("dl") / F.lit(avgdl))
    contrib = F.col("qw") * idf * tf * F.lit(k1 + 1.0) / denom
    return (matched.groupBy("id")
            .agg(F.sum(contrib).alias("score"))
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(k))


def bm25_topk_batch(spark, path: str, queries: dict[str, str],
                    k: int = 10, k1: float = K1, b: float = B) -> DataFrame:
    """Score MANY queries in ONE pass over the persisted index — the
    shape that amortizes at 100 TB (a contamination audit runs
    thousands of eval phrases; per-query scans would re-list the index
    thousands of times). All queries' terms union into one broadcast
    (query_id, term, qw) table; the postings scan prunes to the UNION
    of their buckets; one join scores every (query, doc) pair; ranks
    come from a window partitioned BY QUERY (parallel in query count,
    never a global sort). Returns (query_id, id, score, rank) rows,
    rank <= k, same per-query results as bm25_topk_indexed (pinned by
    test)."""
    from pyspark.sql import Window

    from .. import fsutil
    from ..functions.xxh import tokens_spark, xxh64_string
    if not queries:
        raise ValueError("no queries")
    rows = []
    for qid, q in sorted(queries.items()):
        weights: dict[str, int] = {}
        for t in tokens_spark(q):
            weights[t] = weights.get(t, 0) + 1
        if not any(weights):
            raise ValueError(f"empty query: {qid!r}")
        rows.extend((qid, t, w) for t, w in sorted(weights.items()))
    base = fsutil.gen_resolve(spark, path)
    n_tb = int(spark.read.parquet(path + "/meta")
               .head()["n_term_buckets"])
    buckets = sorted({xxh64_string(t) % n_tb for _q, t, _w in rows})
    st = spark.read.parquet(base + "/stats") \
        .agg(F.sum("n_docs").cast("long").alias("n_docs"),
             F.sum("sum_dl").cast("long").alias("sum_dl")).head()
    n_docs, sum_dl = int(st["n_docs"]), int(st["sum_dl"])
    q_df = spark.createDataFrame(rows, "query_id string, term string, "
                                       "qw long")
    post = (spark.read.parquet(base + "/postings")
            .filter(F.col("tb").isin([int(x) for x in buckets])))
    # df per term, exact from the pruned read (bucket-complete), shared
    # across every query that uses the term
    dfreq = (post.join(F.broadcast(q_df.select("term").distinct()),
                       "term")
             .groupBy("term").agg(F.count("*").cast("long").alias("df")))
    matched = (post.join(F.broadcast(q_df), "term")
               .join(F.broadcast(dfreq), "term"))
    avgdl = sum_dl / n_docs
    idf = F.log(F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b)
                              * F.col("dl") / F.lit(avgdl))
    contrib = F.col("qw") * idf * tf * F.lit(k1 + 1.0) / denom
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (matched.groupBy("query_id", "id")
            .agg(F.sum(contrib).alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def retrieval_index_compact(spark, path: str) -> int:
    """Fold every accumulated delta slice into ONE base slice under a
    new generation (fsutil.gen_begin → write → one-marker gen_commit →
    gen_gc): delta dirs grow one per append forever otherwise, and at
    100 TB the per-query file listing — not the data — becomes the tax.
    Postings rows are DISJOINT across deltas (the append contract), so
    compaction is a pure re-partitioned rewrite: no count summing, no
    manifest arithmetic — simpler than the substring index's
    sum-on-read compaction. The folded watermark (max delta id) rides
    the new generation so a replayed append of a compacted batch
    no-ops instead of double-counting. Crash anywhere before the
    marker: readers stay on the old generation and the husk is swept
    by the next gen_begin — no heal routine exists because no window
    needs one. Single-writer, like every index family here. Returns
    the number of delta slices folded."""
    from .. import fsutil
    base = fsutil.gen_resolve(spark, path)
    deltas = sorted(int(n.split("=", 1)[1])
                    for n in fsutil.listdir(spark, base + "/postings")
                    if n.startswith("delta="))
    if len(deltas) <= 1:
        return 0                      # nothing to fold
    build = fsutil.gen_begin(spark, path)
    (spark.read.parquet(base + "/postings")
     .select("term", "id", "tf", "dl", "tb")
     .write.partitionBy("tb").parquet(build + "/postings/delta=0"))
    (spark.read.parquet(base + "/stats")
     .agg(F.sum("n_docs").cast("long").alias("n_docs"),
          F.sum("sum_dl").cast("long").alias("sum_dl"))
     .coalesce(1).write.parquet(build + "/stats/delta=0"))
    # the watermark carries FORWARD: a pre-compaction watermark means
    # those batch ids were folded by an EARLIER compaction and must
    # stay no-ops after this one too
    prev = fsutil.read_text(spark, base + "/folded_max.txt")
    hi = max(deltas + ([int(prev.strip())] if prev is not None else []))
    fsutil.write_text(spark, build + "/folded_max.txt", f"{hi}\n")
    fsutil.gen_commit(spark, build)
    fsutil.gen_gc(spark, path, legacy_subs=("postings", "stats"))
    return len(deltas)


def hybrid_topk(docs: DataFrame, emb: DataFrame, query_text: str,
                query_vec: list[float], k: int = 10,
                doc_id_col: str = "doc_id", text_col: str = "text",
                vec_id_col: str = "vec_id", vec_col: str = "embedding",
                k0: int = RRF_K0) -> DataFrame:
    """Hybrid retrieval in one call: a BM25 keyword leg over `docs` and
    an exact cosine leg over `emb` (similarity.brute_force_topk — swap
    in lsh/ivf/ivfpq for the approximate tiers, their output shape is
    identical), fused by reciprocal rank. Both legs retrieve 2k
    candidates (the standard fusion over-fetch: an id ranked k+1 on
    both legs can outrank an id ranked 1 on one and absent on the
    other); the fused list is cut to k. Ids must be the same space
    (doc_id == vec_id for a 1:1 corpus). Returns (id, rrf, n_legs)."""
    from .similarity import brute_force_topk
    spark = docs.sparkSession
    bm = bm25_topk(docs, query_text, k=2 * k,
                   id_col=doc_id_col, text_col=text_col)
    q_df = spark.createDataFrame(
        [([float(x) for x in query_vec],)], "q_vec array<double>")
    ann = (brute_force_topk(emb, q_df, k=2 * k,
                            id_col=vec_id_col, vec_col=vec_col)
           .select(F.col(vec_id_col).alias("id"),
                   F.col("cosine").alias("score")))
    return rrf_fuse([bm, ann], k0=k0, k=k)
