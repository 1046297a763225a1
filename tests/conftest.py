import sys
import time

import pytest

sys.path.insert(0, "/root/repo")

from amazon_kinesis_replay_spark.session import build_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_spark("engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


#: Tests measured >= 15 s in the r13 full-suite durations profile
#: (`pytest --durations=0`, 2026-08-16: 387 passed / 1 skipped in
#: 43:12; 2560 s over 357 timed calls; 54 entries, 1765 s — the fast
#: per-edit tier (`-m "not slow"`) is ~13 min). Marked slow centrally
#: so the fast tier needs no per-function decorators and the list is
#: trivially regenerable from a durations run. Explicit
#: @pytest.mark.slow on a test (composed witness, pacing fidelity, gc
#: endurance module) also counts — this list is additive.
SLOW_TESTS = {
    # parametrized: marks both directions ([backward] measured 34.8 s)
    "tests/test_asof_join.py::test_asof_join_matches_python_twin",
    "tests/test_asof_join.py::test_asof_join_randomized_against_twin",
    "tests/test_asof_join.py::test_asof_join_timestamp_tolerance",
    "tests/test_cli.py::test_cli_end_to_end_lz4_sniffed_partitioned",
    "tests/test_gc_endurance.py::test_gc_endurance_index_families",
    "tests/test_gen_layout.py::test_gen_gc_retention_keeps_inflight_reader_alive",
    "tests/test_gen_layout.py::test_ivf_retrain_crash_before_commit_keeps_old_generation",
    "tests/test_metrics_and_props.py::test_global_index_is_a_permutation",
    "tests/test_metrics_and_props.py::test_global_index_string_first_key",
    "tests/test_metrics_and_props.py::test_jaccard_pairs_invariants",
    "tests/test_pipeline_ops.py::test_assemble_sequences",
    "tests/test_pipeline_ops.py::test_dedup_clusters_pairs_path_and_chained_check",
    "tests/test_pipeline_ops.py::test_ivf_imbalance_retrain_trigger",
    "tests/test_pipeline_ops.py::test_ivf_index_retrain_policy",
    "tests/test_pipeline_ops.py::test_ivf_pq_index_append",
    "tests/test_pipeline_ops.py::test_ivf_pq_index_probe",
    "tests/test_pipeline_ops.py::test_pq_ann_recall_and_determinism",
    "tests/test_pipeline_ops.py::test_semantic_dedup_multi_assign",
    "tests/test_pipeline_ops.py::test_semantic_dedup_two_level_multi_assign",
    "tests/test_retrieval.py::test_index_compact_generation_publish",
    "tests/test_retrieval.py::test_indexed_append_folds_batches",
    "tests/test_sources_and_sinks.py::test_zstd_seeded_mutation_fuzz_never_crashes",
    "tests/test_sq8.py::test_ivf_sq_append_equals_full_rebuild",
    "tests/test_sq8.py::test_ivf_sq_probe_topk_batch_matches_per_query_loop",
    "tests/test_sq8.py::test_ivf_sq_retrain_policy",
    "tests/test_streaming_replay.py::test_composed_replay_witness_small",
    "tests/test_suffix.py::test_longest_duplicated_run",
    "tests/test_suffix.py::test_suffix_ranks_equality_classes",
}


#: (file basename, test name) — robust to the rootdir/cwd the suite is
#: invoked from (nodeids drop the tests/ prefix when run from inside it)
_SLOW_KEYS = {(n.split("::")[0].rsplit("/", 1)[-1], n.split("::")[1])
              for n in SLOW_TESTS}


def pytest_collection_modifyitems(config, items):
    matched = set()
    for item in items:
        fname = item.nodeid.split("::")[0].rsplit("/", 1)[-1]
        key = (fname, item.name.split("[")[0])
        if key in _SLOW_KEYS:
            item.add_marker(pytest.mark.slow)
            matched.add(key)
    # staleness guard (r12 review finding): a renamed/deleted slow test
    # leaves a dead entry here AND silently rejoins the fast tier.
    # Only meaningful on a (near-)full collection — a -k/-m/path-
    # restricted run legitimately misses most keys.
    if len(items) > 300:
        stale = _SLOW_KEYS - matched
        if stale:
            import warnings
            warnings.warn(
                f"conftest.SLOW_TESTS has {len(stale)} entries that "
                f"matched no collected test (renamed/deleted?): "
                f"{sorted(stale)[:5]} — regenerate the list from a "
                "--durations=0 run", stacklevel=1)


def _proc_cpu_times():
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def run_load_sensitive(body, max_attempts: int = 3,
                       sleep_sec: float = 10.0,
                       retry_on: tuple = (AssertionError,)):
    """Run a timing-sensitive test body with the bench's own medicine
    (r11 verdict item 2): if the body's assertions fail AND the box
    read loaded over the attempt window (whole-window steal > 1% or
    load1 above the quiet band — bench.py's steal-proof thresholds),
    retry after a pause instead of failing the suite on co-tenant
    noise. A failure on a QUIET box (or on the last attempt) raises
    immediately — real regressions are never retried away silently;
    every retried attempt prints its meters so the log shows why.

    load1 is sampled at attempt START, not end (r12 review finding):
    an end-of-window reading includes the test's OWN Spark load, which
    would read every failing attempt as "loaded" and turn the retry
    into retry-until-pass for real regressions. The start sample sees
    only co-tenant work plus the decaying tail of the previous test —
    an acceptable residual in a sequential suite. steal stays the
    whole attempt window (the hypervisor meter is never us)."""
    for attempt in range(max_attempts):
        cpu0 = _proc_cpu_times()
        try:
            load1 = float(open("/proc/loadavg").read().split()[0])
        except (OSError, ValueError):
            load1 = None
        try:
            body()
            return
        except retry_on:
            cpu1 = _proc_cpu_times()
            steal = None
            if cpu0 is not None and cpu1 is not None:
                d = [b - a for a, b in zip(cpu0, cpu1)]
                # steal is /proc/stat cpu field 8; kernels/containers
                # exposing fewer fields read as "steal unknown" (r12
                # advice: an IndexError here would mask the test's
                # real assertion failure)
                steal = 100.0 * d[7] / (sum(d) or 1) if len(d) > 7 else None
            loaded = ((steal is not None and steal > 1.0)
                      or (load1 is not None and load1 > 6.0))
            if attempt + 1 >= max_attempts or not loaded:
                raise
            print(f"[load-sensitive retry {attempt + 1}/{max_attempts}] "
                  f"attempt failed on a LOADED box "
                  f"(steal={steal}, load1_at_start={load1}); retrying",
                  file=sys.stderr)
            time.sleep(sleep_sec)
