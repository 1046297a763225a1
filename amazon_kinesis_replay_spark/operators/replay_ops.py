"""Batch relational forms of the reference's replay operators.

Each function is a pure DataFrame -> DataFrame transform (composable, fully
Catalyst-visible — filters and projections here push down into the parquet /
json scan). Reference citations point into /root/reference/src/main/java/com/
amazonaws/samples/kinesis/replay/ (short names as in SURVEY.md).

Scale posture:
- seek / projections / normalization: narrow ops, no shuffle.
- ordering: `repartitionByRange` + `sortWithinPartitions` (a single range
  shuffle; Spark's SortExec spills, so a 100 TB sort is disk-bound not
  OOM-bound). A global `orderBy` is equivalent; we expose both.
- global row numbering (needed for 500-record batch assignment): two-pass
  partition-offset scheme — per-partition window (parallel) + tiny offset
  broadcast — NOT a single-partition global Window, which would serialize
  the whole dataset through one task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Filters (OP-FILTER-*)
# --------------------------------------------------------------------------


def seek(df: DataFrame, ts_col: str, seek_to: str) -> DataFrame:
    """OP-FILTER-SEEK — start replay at an event-time lower bound.

    Reference: JsonEventS3Iterator.java:79-101 probes every 10,000th line
    while seeking (sampled, may overshoot). The declarative filter is exact
    and strictly stronger; parquet row-group min/max stats + partition
    pruning give the same skip-ahead effect without sampling.
    """
    return df.filter(F.col(ts_col) >= F.lit(seek_to).cast("timestamp"))


# --------------------------------------------------------------------------
# Projections (OP-PROJ-*)
# --------------------------------------------------------------------------


def ingestion_time_ms(ts_col: Column, first_ts_col: Column,
                      ingestion_start_ms: int, speedup: float) -> Column:
    """OP-PROJ-INGEST — the affine event-time -> ingestion-time map.

    ingestion = start + round((event_ts - first_event_ts) / speedup), in
    milliseconds: JsonEvent.java:96-97. `first_ts_col` is the anchor (the
    reference anchors on the first parsed event, JsonEvent.java:91-93; batch
    form uses min(ts), computed once and broadcast — see
    `with_ingestion_time`). Returns epoch-millis BIGINT for deterministic
    cross-engine comparison.
    """
    delta = F.unix_millis(ts_col) - F.unix_millis(first_ts_col)
    return (F.lit(ingestion_start_ms)
            + F.round(delta / F.lit(float(speedup))).cast("long"))


def with_ingestion_time(df: DataFrame, ts_col: str, ingestion_start_ms: int,
                        speedup: float) -> DataFrame:
    """Derive ingestion time (`ingestion_ms`) for every row, anchored at
    global min(ts).

    Two-pass + broadcast: the 1-row min(ts) aggregate cross-joins back in
    (Catalyst plans it as a broadcast nested loop over a 1-row build side),
    instead of `min over ()` which would funnel all rows through a single
    window partition at scale.
    """
    anchor = df.agg(F.min(ts_col).alias("__first_ts"))
    return (
        df.crossJoin(F.broadcast(anchor))
        .withColumn("ingestion_ms", ingestion_time_ms(
            F.col(ts_col), F.col("__first_ts"), ingestion_start_ms, speedup))
        .drop("__first_ts")
    )


def normalize_payload(df: DataFrame, payload_col: str) -> DataFrame:
    """OP-PROJ-NEWLINE — append a trailing newline to `payload_col` iff
    missing (JsonEvent.java:43-49, "easier digestible by firehose and
    athena")."""
    c = F.col(payload_col)
    return df.withColumn(
        payload_col, F.when(c.endswith("\n"), c).otherwise(F.concat(c, F.lit("\n"))))


# --------------------------------------------------------------------------
# Ordering (OP-SORT-*)
# --------------------------------------------------------------------------


def order_by_event_time(df: DataFrame, ts_col: str, *tiebreak: str) -> DataFrame:
    """OP-SORT-EVENTTIME — total order by event time.

    Reference re-sorts within a 100k-row priority queue
    (JsonEventBufferedReader.java:39-46); batch Spark sorts exactly:
    range-partition shuffle + per-partition spill-able sort.
    """
    return df.orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak])


# --------------------------------------------------------------------------
# Global indexing + sink shaping (OP-SINK-KINESIS batching)
# --------------------------------------------------------------------------


#: Session-lifetime memo for with_global_index quantile bounds, keyed by
#: (applicationId, analyzed-plan semantic hash, first order col, n_parts).
_BOUNDS_MEMO: dict[tuple, list[float]] = {}


def _range_bucket_key(df: DataFrame, first_col: str):
    """A double-valued, order-preserving bucketing key for the FIRST order
    column (the column quantile bounds are computed on). Monotonic, so
    bucketing on it groups whole runs of equal first-keys together. The
    first keys in use are event time and numeric ids."""
    dt = dict(df.dtypes)[first_col]
    if dt.startswith("timestamp"):
        return F.unix_micros(F.col(first_col)).cast("double")
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if dt in numeric or dt.startswith("decimal"):
        return F.col(first_col).cast("double")
    raise TypeError(
        f"with_global_index needs a numeric/timestamp first order column "
        f"to compute deterministic range bounds; got {first_col}: {dt}")


def with_global_index(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Scalable global 1-based row number `__rn` in `order_cols` order
    (batch only).

    Partition-offset scheme with DETERMINISTIC, explicitly computed range
    bounds:
      1. approx-quantile bounds on the first order column (a keys-only,
         column-pruned pass; the Greenwald-Khanna sketch has no RNG, so the
         bounds are a pure function of the data),
      2. pid = #bounds <= key — a broadcast-literal expression, so every
         consumer and every re-execution assigns identical pids,
      3. the ONLY full-data shuffle: hash-repartition by pid, then
         row_number over (partition by pid, order by keys) — the window's
         required clustering is already satisfied, no extra exchange,
      4. per-pid counts aggregated map-side from the same pid expression
         (shuffles #partitions rows, not data) → exclusive prefix sum
         (a window over #partitions rows) → broadcast-join back.

    Why not repartitionByRange + ReuseExchange (the previous design): the
    numbering branch and the counts branch prune different columns, so
    their exchange subtrees never canonicalize equal and the reuse does
    NOT fire (verified on the executed plan) — leaving two independent
    range-samplings whose bounds are only coincidentally identical
    (RangePartitioner's reservoir seed varies with the RDD id). With
    literal bounds there is nothing left to re-sample: retries,
    speculation, and disabled exchange reuse all see the same pids.

    Equal first-key runs land in one bucket (ties are never split), so a
    heavily duplicated first key skews that bucket; order keys should lead
    with a high-cardinality column, as event time is.

    Equivalent result to `row_number() over (order by ...)` but never
    serializes the dataset through a single task.
    """
    tagged, n_parts, single = _range_tagged(df, order_cols)
    order_sql = ", ".join(f"`{c}`" for c in order_cols)
    local = (tagged.repartition(n_parts, F.col("__pid"))
             .selectExpr("*", "row_number() OVER (PARTITION BY __pid "
                              f"ORDER BY {order_sql}) AS __local_rn"))
    if single:
        # One bucket (tiny input or constant key): every offset is 0 by
        # construction — skip the offsets aggregate + join outright (the
        # constant-__pid equi-join would also constant-fold into a
        # nested-loop join against the 1-row offsets table).
        return local.selectExpr(*[f"`{c}`" for c in df.columns],
                                "__local_rn AS `__rn`")
    # Offsets from the same literal-bounds pid expression: map-side partial
    # counts, then a cumsum window over #partitions rows — O(parallelism),
    # not O(data).
    off_df = (tagged.groupBy("__pid")
              .agg(F.expr("count(*) AS __cnt"))
              .selectExpr("__pid",
                          "CAST(coalesce(sum(__cnt) OVER (ORDER BY __pid "
                          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
                          "PRECEDING), 0) AS BIGINT) AS __off"))
    return (local.join(F.broadcast(off_df), "__pid")
            .selectExpr(*[f"`{c}`" for c in df.columns],
                        "(__local_rn + __off) AS `__rn`"))


def _advisory_bytes(spark) -> int:
    """AQE's advisory partition size in bytes (the same target its own
    coalescing aims for), with the Spark default as fallback."""
    try:
        s = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        b = int(spark.sparkContext._jvm.org.apache.spark.network.util
                .JavaUtils.byteStringAsBytes(s))
        return b if b > 0 else 64 << 20
    except Exception:
        return 64 << 20


def _adaptive_parts(df: DataFrame) -> int:
    """Scale-adaptive bucket count for the explicit repartition-by-pid:
    ceil(plan-estimated bytes / AQE advisory partition size), capped at
    `spark.sql.shuffle.partitions` (guide §2.2: size partitions by bytes,
    not by a constant). AQE's own coalescing cannot help here — it never
    coalesces an explicit repartition(n, col) — so the same byte target
    is applied at plan build instead. The pid scheme's RESULT is invariant
    to the bucket count (bounds only place boundaries; offsets come from
    actual per-bucket aggregates), so this only changes task counts: tiny
    inputs stop paying `shuffle.partitions` near-empty window tasks per
    action, and at scale the estimate exceeds the cap, which keeps the
    cluster-tuned width. Falls back to the configured width when the
    plan has no usable size estimate. The ANALYZED plan's stats are used
    (2 ms vs a ~345 ms first-call optimizer run for the same file-size
    estimate — measured on the pack-leg input at sf0.1)."""
    spark = df.sparkSession
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        size = int(df._jdf.queryExecution().analyzed()
                   .stats().sizeInBytes())
    except Exception:
        return conf_parts
    if size <= 0 or size >= (1 << 60):  # unknown/absurd estimate
        return conf_parts
    return max(1, min(conf_parts, -(-size // _advisory_bytes(spark))))


def _range_tagged(df: DataFrame,
                  order_cols: list[str]) -> tuple[DataFrame, int, bool]:
    """Tag every row with a deterministic range-bucket `__pid` on the first
    order column (the shared engine of with_global_index /
    with_global_cumsum; see with_global_index for the scheme discussion).
    The third element is True when everything lands in ONE bucket (no
    bounds): callers then skip the offsets branch — offsets are 0 by
    construction."""
    spark = df.sparkSession
    n_parts = _adaptive_parts(df)
    key = _range_bucket_key(df, order_cols[0])

    probs = [i / n_parts for i in range(1, n_parts)]
    bounds: list[float] = []
    if probs:
        # The quantile sketch is an eager driver-side job (~0.35 s fixed at
        # sf0.1) — memoize the bounds per (application, analyzed-plan
        # semantic hash, first key, n_parts) for the session's lifetime.
        # Output-safe even if the underlying files change under the same
        # plan: bounds only place the bucket BOUNDARIES — pid is monotone
        # in the key and offsets come from actual per-bucket aggregates, so
        # the result is identical for ANY bounds; stale bounds can only
        # skew bucket sizes (the window within the hot bucket still
        # computes correctly).
        memo_key = (spark.sparkContext.applicationId,
                    df._jdf.queryExecution().analyzed().semanticHash(),
                    order_cols[0], n_parts)
        if memo_key in _BOUNDS_MEMO:
            bounds = _BOUNDS_MEMO[memo_key]
        else:
            kdf = df.select(key.alias("__k"))
            qs = kdf.stat.approxQuantile("__k", probs, 1.0 / (4 * n_parts))
            bounds = sorted(set(qs))
            if len(_BOUNDS_MEMO) >= 256:  # bound driver memory
                _BOUNDS_MEMO.clear()
            _BOUNDS_MEMO[memo_key] = bounds
    if bounds:
        # One parsed array expr instead of ~2 py4j round trips per bound
        # literal (r13; values identical — repr() round-trips doubles
        # exactly, and the D suffix pins DoubleType like F.lit(float)).
        barr = F.expr("array(" + ",".join(f"{b!r}D" for b in bounds) + ")")
        pid = F.size(F.filter(barr, lambda b: b <= key))
    else:  # empty input, constant key, or a single partition
        pid = F.lit(0)
    return df.withColumn("__pid", pid), n_parts, not bounds


def with_global_cumsum(df: DataFrame, order_cols: list[str], value_col: str,
                       out_col: str) -> DataFrame:
    """Scalable EXCLUSIVE global running sum of `value_col` in `order_cols`
    order: out = sum of the value over all strictly-earlier rows (0 for the
    first row). Same partition-offset scheme as with_global_index — the
    bucket offsets are per-bucket SUMS instead of counts (still
    O(parallelism) rows through the single-partition window) — so the
    dataset never serializes through one task, unlike a bare
    `sum() over (order by ...)`.

    Equivalent result to `coalesce(sum(v) over (order by ... rows between
    unbounded preceding and 1 preceding), 0)`."""
    tagged, n_parts, single = _range_tagged(df, order_cols)
    order_sql = ", ".join(f"`{c}`" for c in order_cols)
    local = (tagged.repartition(n_parts, F.col("__pid"))
             .selectExpr("*",
                         f"CAST(coalesce(sum(`{value_col}`) OVER "
                         f"(PARTITION BY __pid ORDER BY {order_sql} "
                         "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
                         "PRECEDING), 0) AS BIGINT) AS __local_cum"))
    if single:
        # One bucket: offsets are 0 by construction (see with_global_index).
        return local.selectExpr(*[f"`{c}`" for c in df.columns],
                                f"__local_cum AS `{out_col}`")
    off_df = (tagged.groupBy("__pid")
              .agg(F.expr(f"sum(`{value_col}`) AS __psum"))
              .selectExpr("__pid",
                          "CAST(coalesce(sum(__psum) OVER (ORDER BY __pid "
                          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
                          "PRECEDING), 0) AS BIGINT) AS __off"))
    return (local.join(F.broadcast(off_df), "__pid")
            .selectExpr(*[f"`{c}`" for c in df.columns],
                        f"(__local_cum + __off) AS `{out_col}`"))


def assign_batches(df: DataFrame, order_cols: list[str],
                   max_per_batch: int = 500) -> DataFrame:
    """OP-SINK-KINESIS batching — deterministic ≤500-record `batch_id`s.

    batch_id = floor((rn - 1) / max_per_batch) over the event-time order;
    mirrors drainTo(batch, 500) at KinesisProducer.java:112 with the service
    limit constant at :25.
    """
    idx = with_global_index(df, order_cols)
    return idx.withColumn(
        "batch_id", F.floor((F.col("__rn") - 1) / max_per_batch)).drop("__rn")


def surrogate_shard(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Deterministic stand-in for the UUID shard spread (SURVEY §2.9):
    shard = key % n_shards, checkable against the SQL oracle."""
    return df.withColumn(
        "shard", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))
