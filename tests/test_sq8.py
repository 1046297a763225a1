"""SQ8 scalar quantization — `similarity.sq8_encode`.

The codes are pinned bit-for-bit against a pure-python twin of the
floor((x*127/max|x|)+0.5) arithmetic (all IEEE double ops — the same
property the dedup_exact kind='sq8' DuckDB gate row relies on).
"""

import math

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
