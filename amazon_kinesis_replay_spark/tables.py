"""Fixture-table loaders (TESTDATA.md tables, one parquet per table).

Scans stay columnar + prunable: callers select/filter on the returned
DataFrame and Catalyst pushes projections/predicates into the parquet scan.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_engine_conf

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor — their
#: cardinality is fixed (region) or grows sub-linearly (nation); customer /
#: supplier / part are broadcastable at bench SFs and the joins that use
#: them mark the broadcast explicitly where it is safe at 100 TB too.
ALWAYS_BROADCAST = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Session-lifetime parquet-schema memo per table path (r13 opt, guide
#: §1.2 "per-task work" at the driver): a bare `spark.read.parquet(path)`
#: runs a footer schema-inference JOB on every call (~150 ms at sf0.1),
#: and composed queries call `load` up to 6 times per construction —
#: measured at full-bench conditions the memo takes q5 1.25->0.69 s and
#: q1/q3 ~-0.4 s each. The first load of a path still infers (so physical
#: -type drift across fixtures is observed per path); later loads pass
#: the schema explicitly, which skips only the inference job — path
#: existence and footer validity are still checked at the action. Memo
#: is metadata-only (a StructType, session-independent), bounded like
#: replay_ops._BOUNDS_MEMO.
_SCHEMA_MEMO: dict[str, object] = {}


def _table_schema(spark: SparkSession, path: str):
    sch = _SCHEMA_MEMO.get(path)
    if sch is None:
        sch = spark.read.parquet(path).schema
        if len(_SCHEMA_MEMO) >= 256:  # bound driver memory
            _SCHEMA_MEMO.clear()
        _SCHEMA_MEMO[path] = sch
    return sch


#: Session-lifetime memo of the LOADED DataFrame per (session, path,
#: events_min_ts) — the natural completion of the schema memo above: the
#: plan `load` builds for a given path is identical on every call, and on
#: this box each of the ~10 py4j round trips it takes to rebuild costs
#: ~0.8 ms of plan-construction latency (billed to the query by the
#: bench). A DataFrame is an immutable LAZY plan — memoizing it caches no
#: data and no results; every action still computes from the parquet
#: files. Keyed by the JVM session's identity hash (a plan is bound to
#: its session; getOrCreate returns the same JVM object). Staleness: the
#: plan's file INDEX is captured at first load, so files swapped or
#: appended under the same path mid-session are not observed until a new
#: session — one step stronger than _SCHEMA_MEMO's documented trade, and
#: safe for the fixture contract (testdata paths are immutable within a
#: run; generated corpora are produced by separate processes before any
#: session loads them).
_DF_MEMO: dict[tuple, DataFrame] = {}


def _session_key(spark: SparkSession) -> int:
    key = getattr(spark, "_akrs_session_key", None)
    if key is None:
        key = spark._jsparkSession.hashCode()
        spark._akrs_session_key = key
    return key


def load(spark: SparkSession, sf_dir: str, name: str,
         events_min_ts: str | None = None) -> DataFrame:
    """Load one fixture table.

    events_min_ts (ISO-8601, whole seconds, UTC): optional event-time lower
    bound applied BEFORE the ns->us timestamp conversion, on the raw
    epoch-nanos long — a parquet-pushable predicate (row-group min/max
    pruning), whereas a filter on the converted timestamp column cannot push
    through the conversion expression. For whole-second bounds the two
    predicates are exactly equivalent (ns >= T*1e9 <=> floor(ns/1000) >=
    T*1e6).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_engine_conf(spark)
    path = table_path(sf_dir, name)
    memo_key = (_session_key(spark), path, events_min_ts)
    memoized = _DF_MEMO.get(memo_key)
    if memoized is not None:
        return memoized
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    ts_dtype = dict(df.dtypes).get("ts")
    # `events.ts` has shipped as two physical parquet types across driver
    # versions; normalize BOTH to microsecond TimestampType (UTC session TZ)
    # so downstream unix_millis/window expressions stay valid and the DuckDB
    # oracle (which reads the same file as TIMESTAMP) stays aligned:
    #  * TIMESTAMP(NANOS): with nanosAsLong it surfaces as epoch-nanos
    #    BIGINT — integer-truncate ns->us exactly like DuckDB.
    #  * TIMESTAMP(MICROS, isAdjustedToUTC=0): Spark 4 reads timestamp_ntz —
    #    cast to timestamp, lossless under the UTC session TZ.
    if name == "events" and ts_dtype == "bigint":
        if events_min_ts is not None:
            ns = int(_dt.datetime.fromisoformat(events_min_ts)
                     .replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000_000
            df = df.filter(F.col("ts") >= F.lit(ns))
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_dtype == "timestamp_ntz":
        if events_min_ts is not None:
            # Filter on the raw NTZ column (parquet-pushable) before the cast.
            df = df.filter(
                F.col("ts") >= F.lit(events_min_ts).cast("timestamp_ntz"))
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif events_min_ts is not None and "ts" in df.columns:
        df = df.filter(
            F.col("ts") >= F.lit(events_min_ts).cast("timestamp"))
    if len(_DF_MEMO) >= 256:  # bound driver memory
        _DF_MEMO.clear()
    _DF_MEMO[memo_key] = df
    return df
