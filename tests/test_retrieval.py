"""Inverted-index postings vs the package tokenizer."""

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import retrieval
from amazon_kinesis_replay_spark.operators.text import token_count_expr
from amazon_kinesis_replay_spark.tables import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").select("doc_id", "text")


def test_postings_tf_sums_to_doclen(spark, docs):
    """Invariant: Σ tf per doc == the doc's token count (postings and
    `text.token_count_expr` agree on the tokenizer, including empty-token
    edges)."""
    post = retrieval.postings(docs)
    dl = docs.selectExpr(
        "doc_id AS id", f"CAST({token_count_expr('text')} AS BIGINT) AS dl")
    bad = (post.groupBy("id").agg(F.sum("tf").alias("s"))
           .join(dl, "id")
           .filter(F.col("s") != F.col("dl")).count())
    assert bad == 0
