"""Monitoring-surface aggregations (SURVEY §2.6) as deterministic queries.

The reference reports these over processing time while replaying
(RePlayer.java:145-162); the batch-checkable forms below compute the same
statistics over event time with literal anchors so the DuckDB oracle can
verify them bit-for-bit.

Determinism rules (FIXTURES.md): no current_timestamp, epoch-bigint window
starts, and avg built as CAST(sum AS DOUBLE)/count so both engines perform
the identical exact-integer sum followed by one double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def window_rate_stats(df: DataFrame, ts_col: str,
                      frequency_ms: int = 20_000) -> DataFrame:
    """OP-AGG-WINDOWCOUNT — tumbling window count + events/sec.

    Reference: every statisticsFrequencyMillis (default 20 s,
    RePlayer.java:24) log count and rate round(1000*count/freq)
    (RePlayer.java:150). Tumbling buckets aligned to epoch 0; the bucket
    start is exposed as epoch-millis BIGINT (cross-engine stable).
    Map-side partial aggregation makes this one light shuffle at any scale.
    """
    slot = F.floor(F.unix_millis(F.col(ts_col)) / F.lit(frequency_ms))
    return (
        df.groupBy((slot * frequency_ms).alias("window_start_ms"))
        .agg(F.count("*").alias("n_events"))
        .withColumn(
            "events_per_sec",
            F.round(F.col("n_events") * 1000.0 / F.lit(float(frequency_ms)))
            .cast("long"))
    )


