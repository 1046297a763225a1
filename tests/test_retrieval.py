"""BM25 keyword retrieval + RRF hybrid fusion vs driver-only twins."""

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import retrieval
from amazon_kinesis_replay_spark.tables import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def doc_rows(docs):
    return [(r["doc_id"], r["text"]) for r in docs.collect()]


def test_postings_tf_sums_to_doclen(spark, docs):
    """Invariant: Σ tf per doc == dl (postings and doc_lengths agree on
    the tokenizer, including empty-token edges)."""
    post = retrieval.postings(docs)
    dl = retrieval.doc_lengths(docs)
    bad = (post.groupBy("id").agg(F.sum("tf").alias("s"))
           .join(dl, "id")
           .filter(F.col("s") != F.col("dl")).count())
    assert bad == 0


def test_bm25_matches_python_twin(spark, docs, doc_rows):
    """Top-k ids AND scores equal the driver twin (same tokenizer twin,
    same Okapi arithmetic) at float-sum tolerance."""
    # build a query from words that actually occur in the fixture
    words = doc_rows[0][1].split()[:3]
    query = " ".join(words)
    got = retrieval.bm25_topk(docs, query, k=10).collect()
    want = retrieval.py_reference_bm25(doc_rows, query, k=10)
    assert [r["id"] for r in got] == [i for i, _s in want]
    for r, (_i, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, abs=1e-9)


def test_bm25_duplicate_query_terms_weighted(spark):
    """Bag semantics: a term repeated in the query counts twice — in
    BOTH the Spark plan (qw weight) and the twin."""
    rows = [(0, "apple banana cherry"),
            (1, "apple apple banana"),
            (2, "cherry date fig")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    one = retrieval.bm25_topk(df, "apple", k=3).collect()
    two = retrieval.bm25_topk(df, "apple apple", k=3).collect()
    assert [r["id"] for r in one] == [r["id"] for r in two]
    for a, b in zip(one, two):
        assert b["score"] == pytest.approx(2 * a["score"], abs=1e-9)
    want = retrieval.py_reference_bm25(rows, "apple apple", k=3)
    for r, (i, s) in zip(two, want):
        assert r["id"] == i and r["score"] == pytest.approx(s, abs=1e-9)


def test_bm25_empty_query_refused(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty query"):
        retrieval.bm25_topk(df, "   ")


def test_bm25_plan_shape(spark, docs):
    """The query-term and df joins broadcast (the corpus side never
    shuffles for the lookup) and the top-k is TakeOrderedAndProject,
    not a global sort materialization."""
    plan = retrieval.bm25_topk(docs, "the data model", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


    # the top fused id should sit on BOTH legs on this fixture if any
    # id overlaps; otherwise fusion falls back to leg order — either
    # way the twin equality above is the contract
