"""Conditional scan widening — the shared narrow-input fix (guide-§2.5
"input skew" class: one huge unsplittable file / few files ⇒ repartition
immediately after the read).

A document/media corpus often lands as FEW large parquet files (the shipped
fixtures are single-row-group files, so a scan of one is a single task no
matter how `spark.sql.files.maxPartitionBytes` is set). Everything upstream
of the first exchange — per-row expression forests, broadcast-join probes,
and especially Arrow/pandas Python kernels, whose parallelism is exactly the
partition count — then runs on ONE core. One cheap round-robin shuffle of
the raw rows buys full-width parallelism for that work.

The widening is CONDITIONAL so it is scale-adaptive rather than a local-mode
constant: when the source is already wide (the 100 TB case — maxPartitionBytes
yields thousands of input splits) or the caller's plan already contains a
width-determining operator (repartition/join/aggregate/…), no exchange is
inserted. An unconditional repartition(n) would round-robin-shuffle the
entire raw corpus even when already n-wide.

The width probe is ANALYSIS-ONLY: `df.rdd.getNumPartitions()` under AQE
eagerly materializes upstream query stages (measured: it submits the shuffle
job, which the real query then re-runs), so the decision uses the analyzed
plan string + the scan's file listing instead — neither executes anything.

History: this probe shipped inside `dedup.shingle_arrays` since r3; r13
factored it here so the per-row-heavy and Python-boundary query entries
(doc_text_profile, doc_pii_redact, multimodal_decode/meta) share the one
implementation (measured at full-bench conditions: doc_text_profile
1.36→0.78 s, multimodal_decode 12.6→2.0 s, multimodal_meta 10.5→1.3 s,
doc_pii_redact 14.9→7.0 s at sf0.1 on local[32]).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame

#: Analyzed-plan node names that determine their output width themselves —
#: a plan containing one is never "a narrow scan". NOTE deliberately narrow:
#: ops that preserve their child's width (Generate/explode, Union of narrow
#: scans) are NOT listed — a plan made only of those over a 1-file scan is
#: still narrow and should still be repartitioned; listing them would
#: silently skip the widening (the r3-ADVICE cliff, in the other direction).
_SHUFFLY = {"Repartition", "RepartitionByExpression", "Join",
            "Aggregate", "Window", "Deduplicate", "Sort",
            "MapInPandas", "FlatMapGroupsInPandas"}

#: First identifier after the tree-drawing prefix on each analyzed-plan
#: line — a bare substring match would false-positive on user identifiers
#: like a 'SortKey' column. (test_plan_quality pins this regex against the
#: running Spark version.)
_NODE_RE = _re.compile(r"^[\s:+|-]*'?([A-Za-z]\w*)", _re.M)


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition `df` to the session's parallelism ONLY when
    its plan is a narrow plain file scan (no width-determining operator,
    fewer input files than cores). Returns `df` unchanged otherwise.

    Safe for any oracle-gated consumer: a repartition changes row
    placement, never row content, and every gated aggregate in this repo
    is exact-integer/decimal (order-independent) by the cross-engine float
    rules."""
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().analyzed().toString()
    nodes = {m.group(1) for m in _NODE_RE.finditer(plan)}
    if not nodes:
        # Plan parse yielded nothing — node-name format drift in a future
        # Spark (every analyzed plan has at least one node). Fall back to
        # repartitioning: a redundant exchange is a bounded cost, while
        # silently skipping it risks 1-partition execution — a perf cliff
        # nothing would flag.
        return df.repartition(width)
    if not nodes & _SHUFFLY:
        try:
            n_files = len(df.inputFiles())
        except Exception:
            n_files = 0
        if 0 < n_files < width:
            return df.repartition(width)
    return df
