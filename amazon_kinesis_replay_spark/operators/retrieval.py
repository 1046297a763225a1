"""Keyword retrieval (BM25).

The retrieval surface a training-data pipeline needs next to the ANN
family (operators.similarity): exact keyword search over the corpus for
contamination audits ("which training docs contain this eval phrase"),
curation spot-checks — BM25 (Robertson et al., the public Okapi
formulation).

Spark-first shapes:

- `postings` — the inverted index as a DataFrame: one explode + one
  map-side-combinable groupBy to (term, doc_id, tf). It is built per
  call; the package persists no index.
- `bm25_topk` — score one query: broadcast the (few-term) query table,
  equi-join postings → df-table idf join → per-doc sum →
  TakeOrderedAndProject top-k. No shuffle touches the corpus; the only
  wide operation is the per-doc partial-aggregated sum over matched
  postings (work ∝ matched postings, not corpus).

Correctness gates: the tokenize→postings sufficient statistics are
exact integers, hash-gated cross-engine (dedup_exact kind='bm25' — the
oracle rebuilds the postings table in DuckDB with the same
trim(lower)/\\s+ tokenization the span oracle already uses). The float
BM25 scoring is pinned against a driver-only python twin at 1e-9
(ln() may differ in the last ulp across engines, so cross-ENGINE
hashing of scores would gate libm, not the plan).

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
def postings(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Inverted index rows (term, id, tf): one explode + one groupBy
    (map-side combinable — tf partials fold before the shuffle). Uses
    the package-wide tokenizer (`text.tokens_expr`: split(trim(lower),
    \\s+)), so retrieval and dedup shingles agree on token
    boundaries."""
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


