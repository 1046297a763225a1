"""Plan-quality regression tests: the physical plans we ship, not just the
answers. A correct query with the wrong plan shape is a 100 TB incident."""

import re

import pytest

from amazon_kinesis_replay_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    df = QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_seek_filter_pushes_to_parquet(spark):
    """The seek bound must reach the scan (row-group min/max pruning) —
    applied on the raw nanos column, not the converted timestamp."""
    p = _plan(spark, "filter_seek")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p[:500]
    assert "GreaterThanOrEqual(ts," in m.group(1)


def test_q1_scan_prunes_columns(spark):
    """Q1 projects 7 of 11 lineitem columns; the scan must not read more."""
    p = _plan(spark, "q1_pricing_summary")
    m = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert m
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"} <= cols
    assert "LessThanOrEqual(l_shipdate" in p  # date filter pushed too


def test_star_joins_broadcast_small_dims(spark):
    """q5's region/nation (and with AQE every dim at this SF) must hash-
    broadcast — no sort-merge join for fixed-cardinality dimensions."""
    p = _plan(spark, "q5_local_supplier")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_ingestion_anchor_is_broadcast_not_window(spark):
    """min(ts) anchor must come back as a broadcast join, never a
    single-partition global Window over the events."""
    p = _plan(spark, "derive_ingestion_time")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Window" not in p


def test_topk_avoids_global_sort_materialization(spark):
    """LIMIT + ORDER BY must plan as TakeOrderedAndProject, not a full
    global sort followed by limit."""
    p = _plan(spark, "top_users_by_value")
    assert "TakeOrderedAndProject" in p


def test_interval_join_is_hash_not_nested_loop(spark):
    """The bucketed range join must plan as an equi hash/sort-merge join;
    a naive BETWEEN join would be BroadcastNestedLoop/Cartesian."""
    p = _plan(spark, "interval_join_counts")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p or "SortMergeJoin" in p
            or "ShuffledHashJoin" in p)


def test_embedding_dedup_is_bucketed_not_cartesian(spark):
    """Embedding near-dup candidates come from the banded sign-LSH
    equi-join; an all-pairs crossJoin (the round-1 plan) is the one shape
    that dies at 100 TB."""
    p = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p or "SortMergeJoin" in p
            or "ShuffledHashJoin" in p)


def test_global_index_single_full_shuffle_no_range_sampling(spark):
    """with_global_index must move the data exactly once (one explicit
    repartition-by-pid exchange) and contain NO range partitioning: range
    sampling re-executed per consumer branch is the failure mode that can
    emit duplicate/gapped indexes when exchange reuse does not fire (and
    it does not — the branches prune different columns)."""
    from amazon_kinesis_replay_spark.operators import replay_ops
    from amazon_kinesis_replay_spark.tables import load
    e = load(spark, SF, "events").select("event_id", "ts")
    idx = replay_ops.with_global_index(e, ["ts", "event_id"])
    p = idx._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in p
    assert p.count("REPARTITION_BY") == 1           # the one data shuffle
    # r13: at fixture scale the adaptive bucket count is 1 and the offsets
    # branch is skipped outright (offsets are 0 by construction) — no
    # aggregate, no join, no nested-loop fallback from the constant pid
    assert "HashAggregate" not in p and "Join" not in p
    # multi-bucket regime (forced): counts branch shuffles partial
    # aggregates only — the two HashAggregate levels around its exchange —
    # and attaches via a broadcast equi-join, never a nested loop
    from conftest import advisory_bytes
    with advisory_bytes(spark, "1k"):
        idx8 = replay_ops.with_global_index(e, ["ts", "event_id"])
    p8 = idx8._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in p8
    assert p8.count("REPARTITION_BY") == 1
    assert p8.count("HashAggregate") >= 2
    assert "NestedLoopJoin" not in p8


def test_shingle_rows_repartition_is_conditional(spark):
    """shingle_rows must widen a narrow corpus to full parallelism but add
    NO exchange when the input is already at least that wide — an
    unconditional repartition(n) round-robin-shuffles the whole raw corpus
    at 100 TB."""
    from amazon_kinesis_replay_spark.operators import dedup
    from amazon_kinesis_replay_spark.tables import load
    d = load(spark, SF, "documents")
    width = spark.sparkContext.defaultParallelism
    narrow = dedup.shingle_rows(d, "doc_id", "text")
    pn = narrow._jdf.queryExecution().executedPlan().toString()
    assert pn.count("RoundRobinPartitioning") == 1  # widened once
    wide = dedup.shingle_rows(d.repartition(width + 4), "doc_id", "text")
    pw = wide._jdf.queryExecution().executedPlan().toString()
    # exactly the caller's own repartition — shingle_rows added none
    assert pw.count("RoundRobinPartitioning") == 1


def test_shingle_width_probe_parses_this_spark_version(spark):
    """Pin the width probe's analyzed-plan regex against the RUNNING Spark:
    the probe must extract recognizable node names (r3 ADVICE — a renamed
    node in a future Spark would otherwise silently change the probe's
    decision). Checks both a should-widen plan (plain scan → names parsed,
    none shuffly) and a should-skip plan (aggregate → 'Aggregate' found)."""
    import re
    from amazon_kinesis_replay_spark.tables import load
    d = load(spark, SF, "documents")
    pat = re.compile(r"^[\s:+|-]*'?([A-Za-z]\w*)", re.M)

    plan_scan = d._jdf.queryExecution().analyzed().toString()
    nodes_scan = {m.group(1) for m in pat.finditer(plan_scan)}
    assert nodes_scan, "probe regex parsed NOTHING from an analyzed plan"
    assert {"Project", "Relation"} & nodes_scan, \
        f"unexpected analyzed-plan node names: {sorted(nodes_scan)[:8]}"

    agg = d.groupBy("lang").count()
    nodes_agg = {m.group(1) for m in pat.finditer(
        agg._jdf.queryExecution().analyzed().toString())}
    assert "Aggregate" in nodes_agg, \
        f"'Aggregate' not recognized in {sorted(nodes_agg)[:8]}"


@pytest.mark.parametrize("name", ["doc_text_profile", "doc_pii_redact",
                                  "multimodal_decode", "multimodal_meta",
                                  "dedup_exact", "pairwise_topk_per_label",
                                  "ann_ivf_topk"])
def test_python_boundary_queries_widen_narrow_scans(spark, name):
    """r13 opt: the per-row-heavy / Arrow-kernel entries must widen a
    narrow (few-file) documents scan to session parallelism — an
    expression forest or pandas kernel inherits the scan's width, and the
    fixture corpora are single-row-group files, so without the widen the
    whole per-row stage runs on ONE core (measured: multimodal_decode
    12.6 s -> 2.0 s at sf0.1). The widen is `widen_if_narrow`, so it
    disappears once the scan is at least parallelism-wide."""
    p = _plan(spark, name)
    assert "RoundRobinPartitioning" in p, name


def test_widen_if_narrow_is_conditional(spark):
    """The shared widening probe must be a no-op on inputs whose plan
    already determines its own width — an unconditional repartition would
    round-robin-shuffle the whole corpus at 100 TB."""
    from amazon_kinesis_replay_spark.operators.scanwidth import \
        widen_if_narrow
    from amazon_kinesis_replay_spark.tables import load
    d = load(spark, SF, "documents")
    w = spark.sparkContext.defaultParallelism
    widened = widen_if_narrow(d)
    assert widened is not d, "narrow single-file scan must widen"
    pw = widened._jdf.queryExecution().executedPlan().toString()
    assert pw.count("RoundRobinPartitioning") == 1
    already_wide = d.repartition(w + 4)
    assert widen_if_narrow(already_wide) is already_wide, \
        "plan with a width-determining op must pass through untouched"


def test_embedding_lsh_exchange_is_narrow(spark):
    """The sign-LSH collision join must shuffle (id, band, bucket) rows
    only — 64-float vectors riding the candidate exchange is dead weight
    proportional to corpus x n_bands at 100 TB. Vectors may appear in
    broadcast/join-back exchanges, never in a band-keyed hash shuffle."""
    df = QUERIES["dedup_embedding_cosine"].fn(spark, SF)
    fmt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # formatted output: each node is "(n) NodeName" followed by detail
    # lines (Input/Arguments) until the next "(n) " header
    sections = re.split(r"\n(?=\(\d+\) )", fmt)
    band_exchanges = [s for s in sections
                      if s.startswith("(") and "Exchange" in s.split("\n")[0]
                      and "band" in s]
    assert band_exchanges, fmt[:800]      # the collision join is band-keyed
    for s in band_exchanges:
        assert "embedding" not in s and "vec#" not in s, s


def test_multi_resolution_rollup_scans_once(spark):
    """The folded rollup reads the raw table ONCE (finest-grain aggregate
    materialized) and derives coarser levels from its partials — three
    independent aggregates would scan a 100 TB input three times."""
    from amazon_kinesis_replay_spark.operators import intervals
    from amazon_kinesis_replay_spark.tables import load
    roll = intervals.multi_resolution_rollup(load(spark, SF, "events"))
    qe = roll._jdf.queryExecution()
    assert "FileScan" not in qe.executedPlan().toString()
    # every level reads the one checkpoint of the finest-grain partials
    leaves = qe.optimizedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    assert [x.nodeName() for x in scans] == ["LogicalRDD"] * 3
    assert len({x.rdd().id() for x in scans}) == 1


def test_user_event_windows_single_sort(spark):
    """Both analytic frames (sessionization + as-of max) share one window
    spec: the plan must contain exactly one user_id exchange and one sort
    serving both."""
    p = _plan(spark, "user_event_windows")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") <= 2        # frames may split; no extra sort
    assert p.count("Sort ") == 1


@pytest.mark.parametrize("name", ["window_rate_stats", "agg_events_by_type"])
def test_aggregates_are_partial(spark, name):
    """Grouped aggregates must have a map-side partial phase (two
    HashAggregate levels around the exchange)."""
    p = _plan(spark, name)
    assert p.count("HashAggregate") >= 2


def test_agg_events_single_scan_no_join(spark):
    """agg_events_by_type (r8, verdict task 2): the base aggregate and the
    per-group HLL register statistics must derive from ONE scan of events
    via the linear three-level aggregation tree — the r7 shape scanned the
    table twice and joined (a full second table read at 100 TB)."""
    p = _plan(spark, "agg_events_by_type")
    assert p.count("FileScan parquet") == 1
    assert "Join" not in p                       # no join of the two paths
    assert "events.parquet" in p
    # three shuffles, each level partial+final (drastic reduction per level)
    assert p.count("Exchange hashpartitioning") == 3
    # still column-pruned: only the three needed columns reach the scan
    assert re.search(r"ReadSchema: [^\n]*user_id", p)
    assert not re.search(r"ReadSchema: [^\n]*props", p)


def test_perf_weak_ratio_ceilings(spark):
    """r8 verdict task 7: the two perf-weak entries are PERMANENTLY
    CLOSED as stable engine constants (two measured lever rejections
    each in r7: the fixed-width tree dot and the shared cached
    projection). This guard pins their Spark/DuckDB
    ratio at ~2.5x the confirmed constant so a future PLAN regression
    (lost broadcast, new shuffle, HOF replaced by per-row Python) trips
    it — while co-tenant load, which inflates both engines together,
    does not. Measured quiet-box constants: embedding 10.3x, split 4.0x.
    AT SF0.1 — the constants are SF-specific (at smaller SFs Spark's
    fixed stage cost over a near-zero DuckDB denominator makes the ratio
    meaningless), so this test pins the bench SF.
    """
    import time

    import duckdb

    from amazon_kinesis_replay_spark.plans import QUERIES
    sf_dir = "/root/testdata/sf0.1"
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ceilings = {"dedup_embedding_cosine": 26.0, "doc_train_split": 10.0}
    for name, ceiling in ceilings.items():
        fn, oracle = QUERIES[name].fn, QUERIES[name].oracle
        if callable(oracle):
            oracle = oracle()
        best_s = best_o = None
        for _ in range(3):              # min-of-3, interleaved per query
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best_s = dt if best_s is None else min(best_s, dt)
            t0 = time.monotonic()
            con.execute(oracle).fetchall()
            dt = time.monotonic() - t0
            best_o = dt if best_o is None else min(best_o, dt)
        ratio = best_s / max(best_o, 1e-6)
        assert ratio <= ceiling, (
            f"{name}: Spark/DuckDB ratio {ratio:.1f} exceeds the pinned "
            f"ceiling {ceiling} — a plan regression, not noise (both "
            "engines inflate together under load)")


def test_q5_streams_lineitem_not_builds_it(spark):
    """Q5's fact table must be the streamed probe side: no hashtable is
    ever built over lineitem (the dimension-first join order let the
    planner broadcast the fact side — 2.2x slower at sf0.1 and a
    memory cliff at scale if estimates were ever trusted that way)."""
    p = _plan(spark, "q5_local_supplier")
    # no BroadcastExchange subtree whose scan is the lineitem file
    for m in re.finditer(r"BroadcastExchange[\s\S]{0,2000}?FileScan parquet "
                         r"\[[^\]]*\][^\n]*", p):
        assert "lineitem.parquet" not in m.group(0), m.group(0)[-300:]


def test_contamination_join_is_hash_on_shingle(spark):
    """The decontamination semi-join must be a hash/broadcast equi-join on
    the shingle keys — never a nested-loop — and the split table scan
    must prune to (doc_id, text)."""
    p = _plan(spark, "doc_train_split")
    assert "NestedLoopJoin" not in p
    assert "LeftSemi" in p


def test_ngram_lm_score_is_hash_joined_and_partial(spark):
    """LM scoring in doc_pii_redact (each doc's grams against the target
    and raw count models) must plan as hash equi-joins keyed on
    (context, token) with a partial per-doc aggregate — never a nested
    loop / cartesian — so the plan survives a corpus-scale model
    table."""
    p = _plan(spark, "doc_pii_redact")
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "partial_count" in p
    lm_joins = re.findall(r"(\w+Join) \[context#\d+, token#\d+\]", p)
    assert len(lm_joins) == 2, p[:2000]
    assert all(j in ("BroadcastHashJoin", "SortMergeJoin",
                     "ShuffledHashJoin") for j in lm_joins), lm_joins


def test_assemble_sequences_has_no_unpartitioned_window(spark):
    """Sequence packing must never serialize the corpus through a
    single-partition global window: every Sort in the plan is
    partition-local, and the per-bucket token offsets come from an
    aggregate, not a sort of the whole token stream."""
    from pyspark.sql import functions as F

    from amazon_kinesis_replay_spark.operators import text as T
    from amazon_kinesis_replay_spark.tables import load
    docs = load(spark, SF, "documents").select("doc_id", "text")
    enc = docs.withColumn("n_tok", F.size(F.split("text", " ")))
    # a small advisory size gives this tiny input the range-bucketed
    # plan a corpus-scale input gets (one bucket skips the offsets leg)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4k")
    try:
        out = T.pack_sequences(enc, "doc_id", "n_tok")
        p = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    # every Sort is partition-local (", false, 0"); a global token-stream
    # sort would print ", true, 0" and serialize through range partitioning
    for line in p.splitlines():
        if "Sort [" in line:
            assert ", false, 0" in line, f"global Sort in plan: {line}"
    assert "HashAggregate" in p


def test_duplicate_spans_plan_has_no_cartesian(spark):
    """Substring dedup must stay equi-join/aggregate shaped: no nested
    loop, no cartesian, and the island merge windows per-doc (no
    unpartitioned global window). The returned frame is lazy over the
    materialized window occurrences, so its plan holds the candidate
    joins and the island merge."""
    import re

    from amazon_kinesis_replay_spark.operators import dedup
    from amazon_kinesis_replay_spark.tables import load
    d = load(spark, SF, "documents")
    spans = dedup.duplicate_spans(d, "doc_id", "text")
    q = spans._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in q
    assert "BroadcastNestedLoopJoin" not in q
    assert q.count("LeftSemi") >= 2      # hash-candidate + exact-confirm
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", q)
    assert wins, q[:800]                 # island merge present, and...
    for grp in wins:
        assert "doc_id" in grp           # ...partitioned, never global


def test_mixture_sample_broadcasts_rates_no_row_shuffle(spark):
    """The rates table is metadata-scale: the corpus join must be a
    broadcast hash join, never a sort-merge shuffle of data rows."""
    from amazon_kinesis_replay_spark.operators import sampling
    from amazon_kinesis_replay_spark.tables import load
    d = load(spark, SF, "documents").select("doc_id", "source")
    out = sampling.mixture_sample(d, "doc_id", "source")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_hll_grouped_aggregate_is_partial(spark):
    """agg_events_by_type's per-event-type register build must map-side
    combine (partial_max before the exchange) — the shuffle carries at
    most groups x 2^p rows."""
    p = _plan(spark, "agg_events_by_type")
    assert "partial_max" in p


def test_qhist_build_is_partial_single_scan(spark):
    """late r8: the quantile-histogram build must map-side combine
    (partial_count before the exchange — the shuffle carries at most
    ~64*2^sig_bits rows per map task) over ONE scan of the source."""
    from amazon_kinesis_replay_spark.operators import sketches
    from amazon_kinesis_replay_spark.tables import load
    ev = load(spark, SF, "events").select("user_id")
    qh = sketches.qhist_table(ev, "user_id")
    p = qh._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in p
    assert p.count("FileScan") == 1, p[:800]


def test_hashed_dsir_models_broadcast_no_row_shuffle(spark):
    """late r8: the <=m-row bucket models must broadcast into the
    per-doc statistics joins — a sort-merge shuffle of the exploded gram
    rows against a 10k-row model would be the 100 TB incident."""
    from amazon_kinesis_replay_spark.operators import sampling
    from amazon_kinesis_replay_spark.tables import load
    d = load(spark, SF, "documents").select("doc_id", "text")
    target = sampling.dsir_hashed_counts(
        d.filter("doc_id % 2 = 0"), "text")
    raw = sampling.dsir_hashed_counts(d, "text")
    st = sampling.dsir_hashed_stats(d, "doc_id", "text", target, raw)
    p = st._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    # the model joins specifically must not sort-merge the gram rows:
    # AQE may choose SMJ for the final id re-join of two doc-sized
    # sides, so pin the model-side joins by their bucket key
    import re as _re
    for m in _re.finditer(r"SortMergeJoin \[([^\]]*)\]", p):
        assert "bucket" not in m.group(1), m.group(0)
