"""As-of (point-in-time) join — `intervals.asof_join`.

Twin: a pure-python reimplementation of the backward/forward inclusive
match rule (greatest right.ts <= left.ts / smallest right.ts >= left.ts
per key). The operator's contract mirrors
pandas merge_asof / DuckDB ASOF JOIN; the registry's kind='asof' rows in
interval_join_counts gate it cross-engine against DuckDB's NATIVE
ASOF LEFT JOIN at the oracle sweep.
"""

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import intervals as iv


LEFT = [
    # (lid, key, ts)
    (1, "a", 100), (2, "a", 205), (3, "a", 205), (4, "a", 50),
    (5, "b", 100), (6, "b", 400),
    (7, "c", 10),                       # key with no right rows
]
RIGHT = [
    # (rid, key, ts, val)
    (11, "a", 100, 1.0),                # tie with left ts=100 (inclusive)
    (12, "a", 200, 2.0),
    (13, "a", 205, 3.0), (14, "a", 205, 4.0),   # intra-right tie
    (15, "b", 90, 5.0),
    (16, "b", 600, 6.0),
]


def _twin(direction, tolerance=None):
    out = {}
    for lid, k, lts in LEFT:
        if direction == "backward":
            cands = [r for r in RIGHT if r[1] == k and r[2] <= lts]
            best_ts = max((r[2] for r in cands), default=None)
        else:
            cands = [r for r in RIGHT if r[1] == k and r[2] >= lts]
            best_ts = min((r[2] for r in cands), default=None)
        if tolerance is not None and best_ts is not None \
                and abs(lts - best_ts) > tolerance:
            best_ts = None
        out[lid] = best_ts
    return out


def _frames(spark):
    left = spark.createDataFrame(LEFT, "lid int, key string, ts long")
    right = spark.createDataFrame(
        RIGHT, "rid int, key string, ts long, val double")
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_python_twin(spark, direction):
    left, right = _frames(spark)
    got = iv.asof_join(left, right, by="key", direction=direction)
    rows = {r["lid"]: r["asof_ts"] for r in got.collect()}
    assert rows == _twin(direction)


def test_asof_join_tolerance_nulls_far_matches(spark):
    left, right = _frames(spark)
    got = iv.asof_join(left, right, by="key", tolerance_s=10)
    rows = {r["lid"]: r["asof_ts"] for r in got.collect()}
    assert rows == _twin("backward", tolerance=10)


def test_asof_join_left_rows_all_kept(spark):
    left, right = _frames(spark)
    got = iv.asof_join(left, right, by="key")
    assert got.count() == len(LEFT)
    assert set(got.columns) == {"lid", "key", "ts", "asof_ts"}


def test_asof_join_requires_by_key(spark):
    left, right = _frames(spark)
    with pytest.raises(ValueError, match="non-empty"):
        iv.asof_join(left, right, by=[])
    with pytest.raises(ValueError, match="direction"):
        iv.asof_join(left, right, by="key", direction="nearest")


def test_asof_join_plan_single_shuffle_no_join(spark):
    """The 100 TB contract: one hash shuffle on the key, a window, and NO
    join operator (the naive theta-join would plan nested-loop)."""
    left, right = _frames(spark)
    got = iv.asof_join(left, right, by="key")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(key") >= 1
    assert "Window" in plan


def test_asof_join_timestamp_tolerance(spark):
    """Timestamp `on` column: tolerance interpreted in seconds."""
    left = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:10:00")], "lid int, key string, s string"
    ).select("lid", "key", F.to_timestamp("s").alias("ts"))
    right = spark.createDataFrame(
        [(21, "a", "2024-01-01 00:00:00", 1.0),
         (22, "a", "2024-01-01 00:09:30", 2.0)],
        "rid int, key string, s string, val double"
    ).select("rid", "key", F.to_timestamp("s").alias("ts"), "val")
    near = iv.asof_join(left, right, by="key", tolerance_s=60).collect()[0]
    assert str(near["asof_ts"]) == "2024-01-01 00:09:30"
    far = iv.asof_join(left, right, by="key", tolerance_s=10).collect()[0]
    assert far["asof_ts"] is None


def test_asof_join_randomized_against_twin(spark):
    """Seeded random fixture (ties, duplicates, sparse keys) hammered
    against the pure-python match rule in both directions with and
    without tolerance — 500 left rows, 300 right rows, 8 keys."""
    import random
    rng = random.Random(8)
    left = [(i, f"k{rng.randrange(8)}", rng.randrange(0, 400))
            for i in range(500)]
    right = [(1000 + i, f"k{rng.randrange(8)}", rng.randrange(0, 400),
              float(rng.randrange(100)))
             for i in range(300)]
    ldf = spark.createDataFrame(left, "lid int, key string, ts long")
    rdf = spark.createDataFrame(right,
                                "rid int, key string, ts long, val double")

    def twin(direction, tol):
        out = {}
        for lid, k, lts in left:
            if direction == "backward":
                cands = [r for r in right if r[1] == k and r[2] <= lts]
                bts = max((r[2] for r in cands), default=None)
            else:
                cands = [r for r in right if r[1] == k and r[2] >= lts]
                bts = min((r[2] for r in cands), default=None)
            if bts is not None and tol is not None and abs(lts - bts) > tol:
                bts = None
            out[lid] = bts
        return out

    for direction in ("backward", "forward"):
        for tol in (None, 25):
            got = {r["lid"]: r["asof_ts"]
                   for r in iv.asof_join(
                       ldf, rdf, by="key", direction=direction,
                       tolerance_s=tol).collect()}
            assert got == twin(direction, tol), (direction, tol)


def test_asof_join_multi_key_by(spark):
    """Composite `by` keys: matches require BOTH key columns equal."""
    left = spark.createDataFrame(
        [(1, "a", "x", 100), (2, "a", "y", 100), (3, "b", "x", 100)],
        "lid int, k1 string, k2 string, ts long")
    right = spark.createDataFrame(
        [(11, "a", "x", 90, 1.0), (12, "a", "y", 80, 2.0),
         (13, "b", "y", 70, 3.0)],
        "rid int, k1 string, k2 string, ts long, val double")
    got = {r["lid"]: r["asof_ts"]
           for r in iv.asof_join(left, right, by=["k1", "k2"]).collect()}
    assert got == {1: 90, 2: 80, 3: None}


def test_asof_join_rejects_colliding_left_columns(spark):
    """Name-collision contract (r8 advice): a left column named like an
    internal (__side/__ord/__r) or the output (asof_ts) must fail
    loudly, not be shadowed or made ambiguous. `__tb` is no longer an
    internal name, so a left column of that name passes through."""
    left, right = _frames(spark)
    for bad in ("__side", "__ord", "__r", "asof_ts"):
        with pytest.raises(ValueError, match="collide"):
            iv.asof_join(left.withColumn(bad, F.lit(1)), right, by="key")
    kept = iv.asof_join(left.withColumn("__tb", F.lit(7)), right, by="key")
    assert {r["__tb"] for r in kept.collect()} == {7}
