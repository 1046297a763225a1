"""Batch replay-operator semantics (SURVEY §2.2-§2.6)."""

from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.operators import replay_ops, stats
from amazon_kinesis_replay_spark.tables import load
from conftest import advisory_bytes


def test_seek_exact_lower_bound(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    out = replay_ops.seek(e, "ts", "2024-01-15 00:00:00")
    assert out.agg(F.min("ts")).collect()[0][0].isoformat() >= "2024-01-15"
    # exactness: complement + result = whole table (sampled seek would drop rows)
    assert out.count() + e.filter(
        F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp")).count() \
        == e.count()


def test_ingestion_time_affine_map(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    out = replay_ops.with_ingestion_time(e, "ts", 1_000_000, 100.0)
    rows = out.select("ts", "ingestion_ms").orderBy("ts").collect()
    first = rows[0]["ts"]
    for r in (rows[0], rows[len(rows) // 2], rows[-1]):
        expect = 1_000_000 + round(
            (r["ts"] - first).total_seconds() * 1000.0 / 100.0)
        assert abs(r["ingestion_ms"] - expect) <= 1  # ms rounding
    # monotone in event time (affine, positive speedup)
    ing = [r["ingestion_ms"] for r in rows]
    assert ing == sorted(ing)


def test_normalize_payload_idempotent(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(F.col("props").alias("payload"))
    once = replay_ops.normalize_payload(e, "payload")
    twice = replay_ops.normalize_payload(once, "payload")
    assert once.filter(~F.col("payload").endswith("\n")).count() == 0
    assert twice.filter(F.col("payload").endswith("\n\n")).count() == 0


def test_global_index_and_batches(spark, sf_dir):
    e = load(spark, sf_dir, "events").select("event_id", "ts")
    idx = replay_ops.with_global_index(e, ["ts", "event_id"])
    n = e.count()
    rns = [r["__rn"] for r in idx.select("__rn").collect()]
    assert sorted(rns) == list(range(1, n + 1))  # dense, 1-based, no dupes
    # row numbers agree with the global (ts, event_id) order
    ordered = idx.orderBy("ts", "event_id").select("__rn").collect()
    assert [r["__rn"] for r in ordered] == list(range(1, n + 1))

    batched = replay_ops.assign_batches(e, ["ts", "event_id"], max_per_batch=500)
    sizes = batched.groupBy("batch_id").count().collect()
    assert all(r["count"] <= 500 for r in sizes)
    assert sum(r["count"] for r in sizes) == n


def test_surrogate_shard_spread(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    out = replay_ops.surrogate_shard(e, "event_id", 8)
    shards = {r["shard"] for r in out.select("shard").distinct().collect()}
    assert shards == set(range(8))


def test_interval_join_containment(spark, sf_dir):
    """Bucketed interval join == exact containment semantics, including
    intervals spanning multiple buckets and [lo, hi) boundary exclusivity."""
    from amazon_kinesis_replay_spark.operators import intervals as iv
    e = load(spark, sf_dir, "events").select("event_id", "ts")
    spans = (e.filter(F.col("event_id") % 151 == 0)
             .select(F.col("event_id").alias("interval_id"),
                     F.col("ts").alias("lo"),
                     (F.col("ts") + F.expr("INTERVAL 5 HOURS")).alias("hi")))
    bucketed = iv.interval_join(e, spans)  # 5 one-hour buckets
    naive = e.join(spans, (F.col("ts") >= F.col("lo"))
                   & (F.col("ts") < F.col("hi")))
    got = {(r["event_id"], r["interval_id"]) for r in bucketed.collect()}
    want = {(r["event_id"], r["interval_id"]) for r in naive.collect()}
    assert got == want and len(want) > 0


def test_interval_join_subsecond_hi_boundary(spark):
    """Regression: an exclusive `hi` with sub-second precision must still
    cover points in the same whole second. With second-truncated bucketing,
    hi=11:00:00.5 computed its last covered bucket from 11:00:00-1s (the
    10:00 bucket), so a point at 11:00:00.2 (bucket 11:00) was missed."""
    from amazon_kinesis_replay_spark.operators import intervals as iv
    pts = spark.createDataFrame(
        [("p1", "2024-01-01 11:00:00.2"),   # inside, same second as hi
         ("p2", "2024-01-01 11:00:00.5"),   # == hi: excluded ([lo, hi))
         ("p3", "2024-01-01 10:00:00.4"),   # < lo: excluded
         ("p4", "2024-01-01 10:00:00.5")],  # == lo: included
        "point_id string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    spans = spark.createDataFrame(
        [("i1", "2024-01-01 10:00:00.5", "2024-01-01 11:00:00.5")],
        "interval_id string, lo string, hi string") \
        .withColumn("lo", F.col("lo").cast("timestamp")) \
        .withColumn("hi", F.col("hi").cast("timestamp"))
    got = {r["point_id"]
           for r in iv.interval_join(pts, spans).collect()}
    assert got == {"p1", "p4"}


def test_interval_join_microsecond_hi_boundary(spark):
    """Regression one unit down (ADVICE r2): a sub-MILLISECOND exclusive
    `hi` landing just past a bucket boundary must still cover a point in
    the same millisecond. With ms-truncated bucketing, hi=11:00:00.000500
    computed its last covered bucket from 11:00:00.000 - 1ms (the 10:00
    bucket), so a point at 11:00:00.000200 (bucket 11:00) was missed;
    µs bucketing covers full Spark timestamp precision."""
    from amazon_kinesis_replay_spark.operators import intervals as iv
    pts = spark.createDataFrame(
        [("p1", "2024-01-01 11:00:00.000200"),   # inside, same ms as hi
         ("p2", "2024-01-01 11:00:00.000500"),   # == hi: excluded
         ("p3", "2024-01-01 10:59:59.999999")],  # inside, just before bucket edge
        "point_id string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    spans = spark.createDataFrame(
        [("i1", "2024-01-01 10:00:00", "2024-01-01 11:00:00.000500")],
        "interval_id string, lo string, hi string") \
        .withColumn("lo", F.col("lo").cast("timestamp")) \
        .withColumn("hi", F.col("hi").cast("timestamp"))
    got = {r["point_id"]
           for r in iv.interval_join(pts, spans).collect()}
    assert got == {"p1", "p3"}


def test_window_rate_stats_totals(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = stats.window_rate_stats(e, "ts", 20_000)
    assert w.agg(F.sum("n_events")).collect()[0][0] == e.count()


def test_with_global_cumsum_matches_naive_window(spark):
    """The distributed exclusive cumsum must equal the single-partition
    `sum() over (order by ...)` reference on shuffled input with ties and
    zeros, and pack_sequences must chunk the token stream greedily."""
    import random

    from pyspark.sql import Window as W

    from amazon_kinesis_replay_spark.operators import replay_ops, text
    rng = random.Random(11)
    rows = [(i, rng.choice([0, 3, 7, 50, 120])) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id long, v long")

    got = {r["id"]: r["c"] for r in replay_ops.with_global_cumsum(
        df, ["id"], "v", out_col="c").collect()}
    ref_w = W.orderBy("id").rowsBetween(W.unboundedPreceding, -1)
    want = {r["id"]: r["c"] for r in df.withColumn(
        "c", F.coalesce(F.sum("v").over(ref_w), F.lit(0))).collect()}
    assert got == want

    packed = {r["id"]: r["pack_id"] for r in text.pack_sequences(
        df, "id", "v").collect()}
    for i, (doc, _v) in enumerate(sorted(rows)):
        assert packed[doc] == want[doc] // 512
    # packs are contiguous, non-decreasing in id order
    seq = [packed[i] for i in range(500)]
    assert seq == sorted(seq) and seq[0] == 0


def test_bounds_memo_keys_on_plan_not_table(spark):
    """The quantile-bounds memo must key on the ANALYZED PLAN, not the
    source table: two differently-filtered views of one table get their
    own bounds entries, and identical plans share one (the memo's whole
    point). rn correctness is independent of which bounds apply, but a
    key collision would silently skew bucket sizes."""
    from amazon_kinesis_replay_spark.operators import replay_ops
    df = spark.createDataFrame(
        [(i, i % 7) for i in range(2000)], "id long, k long")
    lo = df.filter(F.col("id") < 500)
    hi = df.filter(F.col("id") >= 1500)
    before = len(replay_ops._BOUNDS_MEMO)
    a = {r["id"]: r["__rn"] for r in replay_ops.with_global_index(
        lo, ["id"]).collect()}
    mid = len(replay_ops._BOUNDS_MEMO)
    b = {r["id"]: r["__rn"] for r in replay_ops.with_global_index(
        hi, ["id"]).collect()}
    after = len(replay_ops._BOUNDS_MEMO)
    assert mid == before + 1 and after == mid + 1   # distinct plan keys
    # re-running the SAME plan adds no entry (memo hit)
    replay_ops.with_global_index(lo, ["id"]).collect()
    assert len(replay_ops._BOUNDS_MEMO) == after
    # and the numbering is the correct dense 1..N for each input
    assert sorted(a.values()) == list(range(1, 501))
    assert sorted(b.values()) == list(range(1, 501))
    assert a[0] == 1 and b[1999] == 500


def test_adaptive_parts_scales_with_input_size(spark, sf_dir):
    """r13 perf: the explicit repartition-by-pid bucket count is derived
    from the plan's size estimate (ceil(bytes / AQE advisory size), capped
    at shuffle.partitions) instead of always shuffle.partitions — AQE
    never coalesces an explicit repartition(n, col), so tiny inputs paid
    32 near-empty window tasks per action. The numbering itself is
    invariant to the bucket count (bounds only place boundaries; offsets
    come from actual per-bucket aggregates)."""
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = load(spark, sf_dir, "events").select("event_id", "ts")
    # the shipped fixtures are far below one advisory partition
    assert replay_ops._adaptive_parts(e) == 1
    # a frame with no file-backed stats falls back to the configured width
    mem = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert replay_ops._adaptive_parts(mem) == conf_parts
    # numbering parity: adaptive bucket count == a bucket count forced
    # up by a smaller advisory partition size
    a = {r["event_id"]: r["__rn"] for r in replay_ops.with_global_index(
        e, ["ts", "event_id"]).collect()}
    with advisory_bytes(spark, "1k"):
        assert replay_ops._adaptive_parts(e) == conf_parts
        b = {r["event_id"]: r["__rn"] for r in replay_ops.with_global_index(
            e, ["ts", "event_id"]).collect()}
    assert a == b
