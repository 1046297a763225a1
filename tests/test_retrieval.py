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


def test_rrf_fusion_matches_twin(spark):
    """Fused order == the reciprocal-rank twin; legs with incomparable
    score scales fuse by position only; ids on more legs win ties."""
    leg1 = spark.createDataFrame(
        [(10, 9.5), (11, 7.2), (12, 3.3)], "id long, score double")
    leg2 = spark.createDataFrame(
        [(12, 0.99), (10, 0.98), (13, 0.42)], "id long, score double")
    got = retrieval.rrf_fuse([leg1, leg2]).collect()
    want = retrieval.py_reference_rrf([[10, 11, 12], [12, 10, 13]])
    assert [r["id"] for r in got] == [i for i, _s, _c in want]
    for r, (_i, s, c) in zip(got, want):
        assert r["rrf"] == pytest.approx(s, abs=1e-12)
        assert r["n_legs"] == c
    # doc 10 (ranks 1+2) beats doc 12 (ranks 3+1): position sum wins
    assert got[0]["id"] == 10


def test_hybrid_bm25_plus_cosine_leg(spark, docs, doc_rows):
    """End-to-end hybrid: a BM25 leg fused with a (synthetic) cosine
    leg promotes a doc that is mid-ranked on both over docs that are
    top-of-one / absent-from-the-other tail."""
    words = doc_rows[1][1].split()[:2]
    bm = retrieval.bm25_topk(docs, " ".join(words), k=5)
    ids = [r["id"] for r in bm.collect()]
    assert ids, "fixture sanity: query must match something"
    # synthetic ANN leg: reverse of the bm25 order plus one new id
    cos_rows = [(i, 1.0 - 0.01 * r) for r, i in enumerate(reversed(ids))]
    cos_rows.append((999_999, 0.5))
    ann = spark.createDataFrame(cos_rows, "id long, score double") \
        .orderBy(F.col("score").desc())
    fused = retrieval.rrf_fuse([bm, ann], k=3).collect()
    want = retrieval.py_reference_rrf(
        [ids, [i for i, _ in sorted(cos_rows, key=lambda x: (-x[1], x[0]))]])
    assert [r["id"] for r in fused] == [i for i, _s, _c in want[:3]]


def test_hybrid_topk_end_to_end(spark, docs, doc_rows, sf_dir):
    """hybrid_topk == manual RRF of its two legs (BM25 over documents +
    exact cosine over embeddings, same id space), pinned against the
    python fusion twin."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.orderBy("vec_id").head()["embedding"]
    words = doc_rows[3][1].split()[:3]
    qtext = " ".join(words)
    got = retrieval.hybrid_topk(docs, emb, qtext, qvec, k=5).collect()

    bm_ids = [r["id"] for r in
              retrieval.bm25_topk(docs, qtext, k=10).collect()]
    from amazon_kinesis_replay_spark.operators.similarity import (
        brute_force_topk)
    q_df = spark.createDataFrame([([float(x) for x in qvec],)],
                                 "q_vec array<double>")
    ann_ids = [r["vec_id"] for r in
               brute_force_topk(emb, q_df, k=10).collect()]
    want = retrieval.py_reference_rrf([bm_ids, ann_ids])[:5]
    assert [r["id"] for r in got] == [i for i, _s, _c in want]
    for r, (_i, s, c) in zip(got, want):
        assert r["rrf"] == pytest.approx(s, abs=1e-12)
        assert r["n_legs"] == c
    # the top fused id should sit on BOTH legs on this fixture if any
    # id overlaps; otherwise fusion falls back to leg order — either
    # way the twin equality above is the contract
