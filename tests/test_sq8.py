"""SQ8 scalar quantization — `similarity.sq8_encode` / `sq8_topk`.

The codes are pinned bit-for-bit against a pure-python twin of the
floor((x*127/max|x|)+0.5) arithmetic (all IEEE double ops — the same
property the dedup_exact kind='sq8' DuckDB gate row relies on), and the
asymmetric-score + exact-rescore top-k is checked against brute force.
"""

import math

from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import similarity as sim
from amazon_kinesis_replay_spark.tables import load


def _py_codes(vec):
    maxabs = float(max(abs(x) for x in vec)) if vec else 0.0
    if maxabs == 0.0:
        return [0] * len(vec)
    return [int(math.floor(((float(x) * 127.0) / maxabs) + 0.5))
            for x in vec]


def test_sq8_codes_match_python_twin(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    got = {r["id"]: (list(r["codes"]), r["scale"])
           for r in sim.sq8_encode(emb).collect()}
    src = {r["vec_id"]: list(r["embedding"])
           for r in emb.select("vec_id", "embedding").collect()}
    assert set(got) == set(src)
    for vid, vec in src.items():
        codes, scale = got[vid]
        assert codes == _py_codes(vec), f"codes drift at vec_id={vid}"
        assert scale == float(max(abs(x) for x in vec)) / 127.0
        assert all(-127 <= c <= 127 for c in codes)


def test_sq8_zero_vector_guard(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>")
    rows = {r["id"]: (list(r["codes"]), r["scale"])
            for r in sim.sq8_encode(emb).collect()}
    assert rows[1] == ([0, 0, 0], 0.0)
    assert rows[2][0] == [64, -127, 32]


def test_sq8_topk_matches_brute_force(spark, sf_dir):
    """At 8-bit resolution with a 4x rescore margin the fixture's top-10
    is recovered exactly — the rescore re-ranks with the exact decimal
    cosine, so any candidate-set agreement implies full agreement."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q_vec"))
    exact = [r["vec_id"]
             for r in sim.brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in sim.sq8_topk(emb, q, k=10).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 9, f"recall@10 {overlap}/10 under SQ8 + 4x rescore"
    # the rescore orders by exact cosine: the shared prefix must agree
    assert approx[0] == exact[0]


def test_sq8_topk_plan_no_global_sort(spark, sf_dir):
    """Candidate selection and the final k must be TakeOrderedAndProject
    (bounded heap per partition), never a full Sort + Limit."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.limit(1).select(F.col("embedding").alias("q_vec"))
    plan = (sim.sq8_topk(emb, q, k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_sq8_topk_rejects_multi_row_query(spark, sf_dir):
    """SINGLE-QUERY contract (r8 advice): the candidate stage takes one
    global limit, so a 2-row query_df must raise, not silently mix
    candidate pools across queries."""
    import pytest

    emb = load(spark, sf_dir, "embeddings")
    one = emb.select(F.col("embedding").alias("q_vec")).limit(1)
    two = emb.select(F.col("embedding").alias("q_vec")).limit(2)
    with pytest.raises(ValueError, match="exactly one query"):
        sim.sq8_topk(emb, two, k=3)
    assert sim.sq8_topk(emb, one, k=3).count() == 3
