"""SparkSession construction with scale-aware defaults.

Single place to encode the engine's execution posture: AQE on (runtime
re-planning, skew-join handling), UTC session timezone (deterministic
timestamp arithmetic for the DuckDB oracle), Arrow enabled (fast Pandas-UDF
boundary for the few operators that need Python), and a codegen cache that
holds every generated class of a full registry pass, so a repeat query
reuses its compiled classes instead of recompiling and re-JITting them.
The cache size is a static conf, fixed when the JVM starts: sessions built
here set it, and on a session the driver built `ensure_engine_conf` can
only warn when it is too small.

Worker import posture: every Python kernel the package hands to Spark
(`mapInPandas` functions and `pandas_udf`s) calls `drop_zip_finders`
once per invocation, after its own imports. PySpark's worker calls
`importlib.invalidate_caches()` at the start of every task, and on
CPython 3.11 and 3.12 that makes every cached `zipimporter` re-read its
archive's central directory. A reused worker holds ~17 of them
(`pyspark.zip` and one per imported pyspark subpackage, two for the
spark-core jar, py4j, this package's shipped zip), so each task paid
0.14-0.20 CPU-s before running any code. Dropping the cached finders
leaves nothing to re-read; Python rebuilds a finder on the next import
that needs one.
"""

from __future__ import annotations

import os
import sys
import warnings
import zipimport

from pyspark.sql import DataFrame, SparkSession

#: Configs applied to sessions we build AND re-asserted (when runtime-settable)
#: on sessions handed to us by the driver.
ENGINE_RUNTIME_CONF = {
    # Determinism: all timestamp <-> epoch math in UTC, matching DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # Let AQE coalesce shuffle partitions and split skewed ones at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Older events fixtures stored TIMESTAMP(NANOS) parquet, which Spark's
    # vectorized reader rejects; read as long and convert (tables.load).
    # Harmless for the current TIMESTAMP(MICROS) fixtures, kept so either
    # physical type loads (tables.load normalizes both to TimestampType).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark 4's DataFrame-debugging wraps EVERY DataFrame/Column API call
    # with call-site capture: a Python stack walk plus ~5 py4j round trips
    # (getActiveSession, a conf read, PySparkCurrentOrigin.set/clear). On
    # this box a py4j round trip is ~0.8 ms, so plan CONSTRUCTION paid
    # ~4 ms per API call — measured 108 ms for one trivial select, ~0.7 s
    # to build the minhash_dedup plan alone (r13 profile; cProfile showed
    # 3,400 round trips per construction). The capture only enriches error
    # messages with user line numbers; the engine's own errors carry their
    # context. Measured win: select() 108 -> 43 ms, whole-bench plan
    # construction is a large part of every sub-second query's time.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


#: Spark's LRU cache of compiled generated classes, keyed on generated
#: source. Its default, 100, is below one query pass: the LRU evicted every
#: class before its query came back, so a repeat pass over the registry
#: recompiled 1,089 classes with Janino and HotSpot JIT-compiled the new
#: bytecode again. One full pass over the 50-query registry at sf0.01
#: compiles 959 distinct classes (`tools/profile_queries.py`,
#: PROFILE_r15.json). The size is twice that, rounded up to a power of two:
#: headroom for the 90-108 classes each repeat pass still compiles anew
#: (AQE numbers codegen stages in a run-dependent order, and the number is
#: part of the class name), plans that change with scale, and registry
#: growth. Static: it takes effect only when the JVM starts.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 2048


def build_spark(app_name: str = "amazon-kinesis-replay-spark") -> SparkSession:
    """Build (or get) a local session sized from $SPARK_GRAFT_CPUS, with
    one shuffle partition per core."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in ENGINE_RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Re-assert runtime-settable engine configs on an externally built
    session (the driver owns the session in `__spark_entry__` calls), and
    make this package importable on executor Python workers.

    Memoized per session object (r13 opt): the assertion is ~34 py4j
    round trips (~10 ms on this box), `tables.load` calls this on every
    load — memo hits included — and a composed query construction loads
    up to 6 tables, so the re-assertion dominated memo-hit load cost.
    Runtime confs persist for the session's lifetime, so asserting once
    per session is equivalent; a test that deliberately flips one of
    these confs mid-session (e.g. AQE off) now keeps its setting across
    engine calls instead of having it silently re-asserted away.

    The first assertion on a session also reads its static codegen-cache
    size and warns if it is below `CODEGEN_CACHE_ENTRIES`."""
    if getattr(spark, "_akrs_conf_asserted", False):
        # Sentinel spot-check on memo hits (r13 ADVICE): the memo assumes
        # the driver never mutates a runtime conf between entry calls on
        # the same session. Verify the cheapest result-critical conf (UTC
        # session timezone — 1 round trip) and fall through to the full
        # re-assertion if it drifted; a DELIBERATE mid-session flip of a
        # non-sentinel conf (e.g. the AQE-off streaming tests) still
        # survives, which the memo test pins.
        try:
            tz_ok = (spark.conf.get("spark.sql.session.timeZone")
                     == ENGINE_RUNTIME_CONF["spark.sql.session.timeZone"])
        except Exception:
            tz_ok = True
        if tz_ok:
            _ship_package(spark)
            return spark
    else:
        _warn_small_codegen_cache(spark.sparkContext.getConf())
    for k, v in ENGINE_RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; keep going
    # The dataFrameDebugging switch is read ONCE per Python process and
    # memoized in pyspark.errors.utils._enable_debugging_cache; on a
    # driver-owned session that already ran DataFrame ops the True value
    # is cached and the conf.set above never takes effect. Resetting the
    # memo makes the conf authoritative mid-process; guarded because the
    # private name may move in a future PySpark (the conf alone then
    # covers sessions we build ourselves).
    try:
        from pyspark.errors import utils as _perr_utils
        _perr_utils._enable_debugging_cache = False
    except Exception:
        pass
    spark._akrs_conf_asserted = True
    _ship_package(spark)
    return spark


def _warn_small_codegen_cache(conf) -> None:
    """Warn when a session's codegen cache is smaller than the engine's
    size. The conf is static: a session the driver built keeps its value
    for the JVM's life, and each repeat query pass then recompiles the
    classes the cache evicted. `conf` is the session's SparkConf, or any
    reader with `get(key, default)`."""
    entries = int(conf.get(CODEGEN_CACHE_CONF, "100"))   # Spark's default
    if entries < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"{CODEGEN_CACHE_CONF} is {entries}, below the engine's "
            f"{CODEGEN_CACHE_ENTRIES}: repeat queries will recompile their "
            "generated classes. The conf is static; set it when the "
            "session is built (e.g. spark-submit --conf).",
            RuntimeWarning, stacklevel=3)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile (once per session).

    Python-UDF closures (mapInPandas decoders, foreachPartition senders)
    reference module-level functions, which cloudpickle serializes BY
    REFERENCE — workers must be able to import the package. When the driver
    process was launched from outside the repo, the workers' sys.path does
    not include it; a zipped copy on the Spark files channel fixes that in
    both local and cluster mode.

    The staging dir is removed when the process exits, not before: local
    executors fetch the zip from its path for the session's whole life.
    """
    if getattr(spark, "_akrs_pyfiles_shipped", False):
        return
    import atexit
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        staging = tempfile.mkdtemp(prefix="akrs-pyfiles-")
        atexit.register(shutil.rmtree, staging, ignore_errors=True)
        zip_base = os.path.join(staging, "amazon_kinesis_replay_spark")
        archive = shutil.make_archive(
            zip_base, "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir))
        spark.sparkContext.addPyFile(archive)
        spark._akrs_pyfiles_shipped = True
    except Exception:
        pass  # best-effort: repo-rooted runs work without it


def materialize(df: DataFrame, name: str) -> DataFrame:
    """The package's one way to materialise an intermediate: an eager
    `localCheckpoint` of `df` run under the job description `name`, so
    the checkpoint job and the jobs its plan triggers carry the
    operator's name in a stage profile. The caller's description is
    restored afterwards; the job group is left alone (harnesses count
    jobs by group).

    The returned frame's plan is a scan of the checkpoint blocks: it
    cuts the lineage and is a barrier the optimizer cannot push
    expressions through. Nothing releases it: the ContextCleaner drops
    the blocks once the frame is unreferenced and garbage-collected.
    Checkpoint blocks do not survive executor loss."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", name)
    try:
        return df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def drop_zip_finders() -> None:
    """Delete every `zipimport.zipimporter` from `sys.path_importer_cache`.

    Called by each Python kernel on its worker. The worker's per-task
    `importlib.invalidate_caches()` re-reads the central directory of
    every cached zip finder on CPython 3.11 and 3.12 (3.13 only drops the
    cache); with none cached there is nothing to re-read. The cache is
    public state that Python refills lazily: the next import that needs
    a zip entry on the path builds a new finder from the directory
    `zipimport` already holds for that archive. Archives on a worker's
    path are never rewritten while it lives (each session ships its
    package zip from a fresh directory), so that directory stays valid.
    Modules already imported are untouched."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
