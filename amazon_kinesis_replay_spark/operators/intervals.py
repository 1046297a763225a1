"""Range/interval join — the bucketed equi-join pattern.

Spark has no native interval-join operator; a naive `a.ts BETWEEN b.lo AND
b.hi` join plans as BroadcastNestedLoop/Cartesian, which is quadratic and
dies at scale. The scale pattern: quantize time into fixed buckets, explode
each interval over the buckets it covers, equi-join on the bucket id (hash
join, shuffle on a 64-bit key), then re-check exact containment. Work is
proportional to (#points + #interval-bucket entries + #true matches), not
#points x #intervals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def interval_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Join each point to every interval containing it ([lo, hi) semantics).

    points: any columns + a `ts` timestamp.
    intervals: any columns + `lo`/`hi` timestamps; hi - lo may exceed the
    one-hour bucket width (intervals explode over all covered buckets).
    """
    # Bucket from exact epoch MICROS — the full precision of a Spark
    # timestamp (events.parquet is ns-truncated-to-µs). Bucketing at any
    # coarser unit truncates, which can place a point in the same truncated
    # unit as a finer-grained exclusive `hi` one bucket past the interval's
    # exploded range whenever that unit is a bucket boundary (a missed
    # match, not a false positive the exact re-check could repair).
    width_us = 3600 * 1_000_000
    p_bucket = F.floor(F.unix_micros(F.col("ts")) / width_us)
    p = points.withColumn("__bucket", p_bucket)

    lo_b = F.floor(F.unix_micros(F.col("lo")) / width_us)
    # hi is exclusive: the last covered bucket is the one holding hi - 1µs
    hi_b = F.floor((F.unix_micros(F.col("hi")) - 1) / width_us)
    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(lo_b, F.greatest(hi_b, lo_b))))

    joined = p.join(iv, "__bucket").filter(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
    return joined.drop("__bucket")


def asof_join(left: DataFrame, right: DataFrame,
              by: str | list[str] = "user_id",
              direction: str = "backward",
              tolerance_s: int | float | None = None) -> DataFrame:
    """Point-in-time (as-of) join: for each left row, the `ts` of the
    single right row with the greatest `ts` <= left.`ts`
    (direction='backward', inclusive — pandas merge_asof / DuckDB ASOF
    JOIN semantics) or the smallest `ts` >= left.`ts`
    (direction='forward'), matching on the `by` key(s), emitted as
    `asof_ts`. LEFT-join semantics: unmatched left rows keep a NULL
    `asof_ts`.

    Plan shape (the 100 TB contract): a naive `r.ts <= l.ts` theta-join
    plans as a per-key nested loop (quadratic in events-per-key); instead
    both sides are UNIONED with a side tag and ONE keyed window
    (partitionBy(by), orderBy(ts, side)) carries the most recent right
    `ts` to each left row via last(ignorenulls) over a cumulative frame —
    one hash shuffle on the key, one sort, zero joins, linear in rows.
    This is the same single-window shape as q_user_event_windows
    (registry), generalized to two tables. Right rows sharing (by, ts)
    tie, and the matched `asof_ts` is deterministic by definition of the
    tie.

    Args:
      tolerance_s: if set, a match farther than this many seconds from the
        left row (in the join direction) is nulled out, so
        out-of-tolerance lefts look unmatched.
      direction: 'backward' (default) or 'forward'.

    Requires a real `by` key: a global (keyless) as-of would need an
    unpartitioned window — the known scale anti-pattern. Pre-bucket a
    keyless stream (e.g. by coarse time range) and pass that as `by`.

    NULL contract: rows with NULL `by` or `ts` follow WINDOW semantics
    (NULL keys form one partition and match each other; NULL `ts` sorts
    to one end — under direction='forward' a NULL-on left row would see
    every right row as preceding), which DIVERGES from SQL ASOF JOIN
    equality (NULL never matches). Filter NULL keys/timestamps out
    first when SQL-join semantics are required — the registry gate does
    exactly this, mirrored in its oracle.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    by_keys = [by] if isinstance(by, str) else list(by)
    if not by_keys:
        raise ValueError("asof_join requires a non-empty `by` key; a "
                         "keyless as-of needs an unpartitioned window "
                         "(does not scale) — pre-bucket and pass the "
                         "bucket as `by`.")
    # Name-collision contract (r8 advice item): the union plan reserves
    # __side/__ord/__r internally and emits `asof_ts`; a left column
    # with one of those names would be shadowed or make the final select
    # ambiguous — fail loudly instead.
    reserved = {"__side", "__ord", "__r"}
    clash = [c for c in left.columns if c in reserved or c == "asof_ts"]
    if clash:
        raise ValueError(
            f"asof_join: left columns {clash} collide with internal or "
            f"output names (reserved {sorted(reserved)}, output asof_ts); "
            f"rename them.")

    # Carry the matched row as ONE struct: a struct literal is non-null
    # on every right row even when its FIELDS are null, so
    # last(ignorenulls) always picks the nearest right ROW.
    r_struct = F.struct(F.col("ts").alias("ts"))
    null_struct = F.lit(None).cast(
        f"struct<`ts`:{dict(right.dtypes)['ts']}>")
    l_side = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        null_struct.alias("__r"),
        F.col("ts").alias("__ord"))
    r_side = right.select(
        *[F.col(c) if c in by_keys else
          F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in left.columns],
        F.lit(0).alias("__side"),
        r_struct.alias("__r"),
        F.col("ts").alias("__ord"))

    order = [F.col("__ord").asc() if direction == "backward"
             else F.col("__ord").desc(), F.col("__side").asc()]
    w = (Window.partitionBy(*by_keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    u = l_side.unionByName(r_side)
    m = F.last("__r", ignorenulls=True).over(w)
    matched = u.select(
        *[F.col(c) for c in left.columns], "__side", "__ord",
        m["ts"].alias("asof_ts"))
    out = matched.filter(F.col("__side") == 1)

    if tolerance_s is not None:
        is_ts = dict(left.dtypes)["ts"].startswith("timestamp")
        def _num(col):
            return F.unix_micros(col) if is_ts else col.cast("double")
        tol = tolerance_s * 1_000_000 if is_ts else tolerance_s
        gap = (_num(F.col("__ord")) - _num(F.col("asof_ts"))
               if direction == "backward"
               else _num(F.col("asof_ts")) - _num(F.col("__ord")))
        ok = gap <= F.lit(tol)
        out = out.select(
            *[F.col(c) for c in left.columns],
            F.when(ok, F.col("asof_ts")).alias("asof_ts"))
    else:
        out = out.select(*[F.col(c) for c in left.columns],
                         F.col("asof_ts"))
    return out


def gap_fill(buckets: DataFrame, bucket_col: str, value_col: str,
             step: int, mode: str = "zero",
             group_cols: list[str] | None = None) -> DataFrame:
    """Hypertable-style gap filling (the time_bucket_gapfill surface):
    densify a sparse per-bucket series to EVERY step between each
    group's min and max bucket, filling missing values by

      - 'zero':   0 (the natural fill for counts/sums),
      - 'locf':   last observation carried forward (NULL before the
                  first observation),
      - 'interp': linear interpolation between the neighboring
                  observations (NULL outside the observed range).

    Emits (group_cols..., bucket_col, value_col, filled) where filled=1
    marks SPINE-INSERTED rows (buckets with no input row); an input row
    whose value is NULL keeps filled=0, zero mode preserves its NULL
    (gaps are filled, observed nulls are not rewritten), and locf/interp
    fill ACROSS it like any other window null.

    Plan shape at 100 TB: the spine is built per group from that group's
    (min, max) aggregate — sequence/explode generates rows ∝ buckets,
    distributed, never a driver loop — and joined back on the bucket
    key (one hash shuffle of bucket-grain rows, which are already the
    AGGREGATED table, orders of magnitude smaller than raw events).
    locf/interp add one keyed window sort; interp's backward and
    forward frames share the same (group, bucket) sort, so it costs the
    same single sort as locf.

    Without group_cols, locf/interp use a GLOBAL window — acceptable
    only because the input is bucket-grain (rows = time-range/step, e.g.
    ~5M for a decade of minutes), never raw events; pass group_cols for
    per-key series so the sort distributes.

    CONTRACT: `bucket_col` values must be step-ALIGNED within each group
    (anything produced by floor(x/step)*step bucketing is) and unique
    per (group, bucket) — an unaligned observation falls off the
    generated spine and is silently dropped by the left join; a
    duplicate bucket duplicates its spine row.
    """
    if mode not in ("zero", "locf", "interp"):
        raise ValueError(f"mode must be zero|locf|interp: {mode}")
    gcols = list(group_cols or [])
    spine = (buckets.groupBy(*[F.col(c) for c in gcols])
             .agg(F.min(bucket_col).alias("__lo"),
                  F.max(bucket_col).alias("__hi"))
             .select(*gcols,
                     F.explode(F.sequence(
                         F.col("__lo"), F.col("__hi"),
                         F.lit(step))).alias(bucket_col)))
    joined = spine.join(
        buckets.select(*gcols, bucket_col,
                       F.col(value_col).alias("__obs"),
                       F.lit(1).alias("__present")),
        on=gcols + [bucket_col], how="left")
    # filled marks SPINE-INSERTED rows (no input row at this bucket) —
    # a present row whose value is NULL keeps filled=0 (review finding:
    # the flag must not conflate 'no data point' with 'null data point')
    filled_flag = F.when(F.col("__present").isNull(), F.lit(1)) \
        .otherwise(F.lit(0)).cast("long").alias("filled")

    if mode == "zero":
        out = joined.select(
            *gcols, bucket_col,
            # zero-fill GAPS only; an observed NULL value stays NULL
            F.when(F.col("__present").isNull(),
                   F.lit(0).cast(dict(buckets.dtypes)[value_col]))
            .otherwise(F.col("__obs")).alias(value_col),
            filled_flag)
        return out

    w = Window.partitionBy(*[F.col(c) for c in gcols]) \
        .orderBy(F.col(bucket_col).asc()) if gcols else \
        Window.orderBy(F.col(bucket_col).asc())
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if mode == "locf":
        out = joined.select(
            *gcols, bucket_col,
            F.last("__obs", ignorenulls=True).over(back).alias(value_col),
            filled_flag)
        return out

    # interp: carry (bucket, value) of the nearest observation in each
    # direction over ONE sort, then linear-blend where both exist.
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_pt = F.when(F.col("__obs").isNotNull(),
                    F.struct(F.col(bucket_col).alias("b"),
                             F.col("__obs").cast("double").alias("v")))
    prev = F.last(obs_pt, ignorenulls=True).over(back)
    nxt = F.first(obs_pt, ignorenulls=True).over(fwd)
    frac = ((F.col(bucket_col) - prev["b"]).cast("double")
            / (nxt["b"] - prev["b"]).cast("double"))
    interp = F.when(F.col("__obs").isNotNull(),
                    F.col("__obs").cast("double")) \
        .when(prev.isNotNull() & nxt.isNotNull(),
              prev["v"] + (nxt["v"] - prev["v"]) * frac)
    return joined.select(*gcols, bucket_col, interp.alias(value_col),
                         filled_flag)


#: The rollup's bucket widths in seconds: 1 min, 1 h, 1 day. Each is a
#: multiple of the first, so every level folds the minute partials.
ROLLUP_RESOLUTIONS_S = (60, 3600, 86400)


def multi_resolution_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup at the
    `ROLLUP_RESOLUTIONS_S` resolutions: counts per bucket of `ts`,
    stacked with a `resolution_s` discriminator.

    Plan shape: every resolution is a multiple of the finest (the
    hypertable case — 1min/1h/1day), so the raw data is scanned and
    aggregated ONCE at the finest grain; every coarser level folds the
    finest level's partials (#fine-buckets rows, materialized) —
    identical results to independent aggregates because counts are
    decomposable, but a 100 TB input is read once instead of once per
    level."""
    def bucket_ms(src_s, res: int):
        return (F.floor(src_s / res) * res * 1000).cast("long")

    finest = ROLLUP_RESOLUTIONS_S[0]
    base = materialize(events.groupBy(
        bucket_ms(F.unix_timestamp(F.col("ts")), finest)
        .alias("bucket_start_ms"))
        .agg(F.count("*").alias("n_events")),
        "multi_resolution_rollup: finest grain")  # read per level
    result = base.withColumn("resolution_s", F.lit(finest).cast("long"))
    for res in ROLLUP_RESOLUTIONS_S[1:]:
        out = (base.groupBy(
            bucket_ms(F.col("bucket_start_ms") / 1000, res)
            .alias("bucket_start_ms"))
            .agg(F.sum("n_events").cast("long").alias("n_events")))
        result = result.unionByName(
            out.withColumn("resolution_s", F.lit(res).cast("long")))
    return result
