"""Keyword-retrieval statistics: the inverted index.

`postings` builds the inverted index as a DataFrame — one explode + one
map-side-combinable groupBy to (term, id, tf). It is built per
call; the package persists no index.

Correctness gate: the tokenize→postings sufficient statistics are
exact integers, hash-gated cross-engine (dedup_exact kind='bm25' — the
oracle rebuilds the postings table in DuckDB with the same
trim(lower)/\\s+ tokenization the span oracle already uses).

Reference scope note: the reference engine (S3→Kinesis replay) has no
search surface; this module is part of the SURVEY §6 LLM-pipeline
extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_expr


def postings(docs: DataFrame) -> DataFrame:
    """Inverted index rows (term, id, tf) of the `text` column keyed by
    `doc_id`: one explode + one groupBy
    (map-side combinable — tf partials fold before the shuffle). Uses
    the package-wide tokenizer (`text.tokens_expr`: split(trim(lower),
    \\s+)), so retrieval and dedup shingles agree on token
    boundaries."""
    return (docs.selectExpr("doc_id AS id",
                            f"explode({tokens_expr('text')}) AS term")
            .groupBy("term", "id")
            .agg(F.count("*").cast("long").alias("tf")))
