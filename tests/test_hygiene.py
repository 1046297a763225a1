"""Lint-style hygiene pins (r8 verdict item 8): grep rules previous
rounds enforced by hand, frozen as tests so drift cannot recur.

Each rule encodes a 100 TB scale invariant:
- `.collect()` / `.toPandas()` pull data onto the driver — allowed only
  in files whose collects are bounded-small BY CONSTRUCTION (vocab-capped
  BPE merges, dim-sized gradients, centroid/codebook tables, 1-row stat
  frames), pinned as an explicit allowlist.
- `crossJoin` is a cartesian product — every call site must broadcast a
  provably tiny side (anchor row / query vector / salt range).
- "rows-only" in package source is docstring drift: since r7 the whole
  registry is hash-gated, so any new claim of a rows-only check is
  either stale history or a regression being documented instead of
  fixed.
"""

import ast
import re
import time
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "amazon_kinesis_replay_spark"

#: Files where driver-side collection is sanctioned because the collected
#: frame is bounded-small by construction (NOT corpus-scale). Growing this
#: list requires the same justification in the file's docstring.
COLLECT_ALLOWED = {
    "operators/similarity.py",   # centroid / codebook / k-means tables
    "operators/text.py",         # vocab-capped BPE merge aggregate
}
TOPANDAS_ALLOWED = {
    "streaming/replay.py",       # anchor, stat frames, gate top-k rows
}


def _py_sources():
    return sorted(PKG.rglob("*.py"))


def _rel(p: Path) -> str:
    return str(p.relative_to(PKG))


def _hits_outside(call: str, allowed: set[str]) -> tuple[dict, set]:
    """(lines of `call` in files outside `allowed`, allowed files that
    have no `call` at all — stale entries)."""
    offenders, hit_files = {}, set()
    for p in _py_sources():
        hits = [i + 1 for i, line in enumerate(p.read_text().splitlines())
                if call in line]
        if hits:
            hit_files.add(_rel(p))
            if _rel(p) not in allowed:
                offenders[_rel(p)] = hits
    return offenders, allowed - hit_files


def test_collect_only_in_allowlisted_files():
    offenders, stale = _hits_outside(".collect()", COLLECT_ALLOWED)
    assert not offenders, (
        f"driver-side .collect() outside the bounded-small allowlist: "
        f"{offenders} — distribute the computation or justify + allowlist")
    assert not stale, f"stale COLLECT_ALLOWED entries: {sorted(stale)}"


def test_topandas_only_in_allowlisted_files():
    offenders, stale = _hits_outside(".toPandas()", TOPANDAS_ALLOWED)
    assert not offenders, (
        f".toPandas() outside the allowlist: {offenders}")
    assert not stale, f"stale TOPANDAS_ALLOWED entries: {sorted(stale)}"


def test_every_crossjoin_broadcasts_a_tiny_side():
    """The 120 chars after each crossJoin( must contain F.broadcast —
    a cartesian product is only acceptable against a provably tiny
    broadcast side (1-row anchor, query vector, salt range)."""
    offenders = []
    for p in _py_sources():
        src = p.read_text()
        for m in re.finditer(r"\.crossJoin\(", src):
            window = src[m.end():m.end() + 120]
            if "broadcast" not in window:
                line = src[:m.start()].count("\n") + 1
                offenders.append(f"{_rel(p)}:{line}")
    assert not offenders, (
        f"crossJoin without a broadcast side: {offenders}")


def test_no_rows_only_claims_in_package_source():
    offenders = []
    for p in _py_sources():
        for i, line in enumerate(p.read_text().splitlines()):
            if "rows-only" in line:
                offenders.append(f"{_rel(p)}:{i + 1}")
    assert not offenders, (
        f"stale 'rows-only' claim in package source: {offenders} — the "
        "registry has been fully hash-gated since r7; reword or fix")


def test_no_row_at_a_time_python_udf():
    """Python in the hot path must be Arrow-batched (pandas_udf /
    mapInPandas / applyInPandas) — a row-at-a-time F.udf( call is the
    10-100x slow path and must not reappear."""
    offenders = []
    for p in _py_sources():
        for i, line in enumerate(p.read_text().splitlines()):
            if re.search(r"\bF\.udf\(|\budf\(lambda", line):
                offenders.append(f"{_rel(p)}:{i + 1}")
    assert not offenders, f"row-at-a-time Python UDF: {offenders}"


#: Modules whose expressions have ONE body each, a SQL-string builder.
SINGLE_FORM_MODULES = ("operators/text.py", "operators/dedup.py",
                       "operators/sampling.py", "operators/similarity.py")

#: The Spark tokenizer spelled out — outside text.tokens_expr it is a copy.
_SPARK_TOKENIZER = re.compile(
    r"(?<![\w.])(?:F\.)?split\(\s*(?:F\.)?trim\(\s*(?:F\.)?lower\(")


def _code_text(p: Path) -> str:
    """The file's source with every docstring blanked (lines kept)."""
    src = p.read_text()
    lines = src.splitlines()
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
                and ast.get_docstring(node, clean=False) is not None):
            doc = node.body[0]
            for i in range(doc.lineno - 1, doc.end_lineno):
                lines[i] = ""
    return "\n".join(lines)


def _union_members(ann) -> set[str]:
    """The members of an `A | B | ...` annotation, unparsed."""
    if isinstance(ann, ast.BinOp) and isinstance(ann.op, ast.BitOr):
        return _union_members(ann.left) | _union_members(ann.right)
    return {ast.unparse(ann)} if ann is not None else set()


def test_expression_builders_have_one_form():
    """No Column/SQL-string twin may reappear: a builder parameter typed
    `Column | str`, or an `isinstance(..., str)` branch inside a function
    returning a Column or a SQL string, in the single-form modules."""
    offenders = []
    for rel in SINGLE_FORM_MODULES:
        tree = ast.parse((PKG / rel).read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for arg in fn.args.args + fn.args.kwonlyargs:
                if {"Column", "str"} <= _union_members(arg.annotation):
                    offenders.append(f"{rel}:{arg.lineno} Column | str")
            ret = ast.unparse(fn.returns) if fn.returns else ""
            if "Column" not in ret and "str" not in ret:
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and getattr(node.func, "id", "") == "isinstance"
                        and ast.unparse(node.args[1]) == "str"):
                    offenders.append(f"{rel}:{node.lineno} isinstance")
    assert not offenders, (
        f"Column/SQL twin builder: {offenders} — build the SQL string "
        "once and F.expr it at the call site")


def test_spark_tokenizer_only_in_text_builder():
    """split(trim(lower(x)), '\\s+') is text.tokens_expr; a second copy
    in package or tools/ code can drift from the oracles' tokenizer
    (docstrings and the DuckDB regexp_split_to_array oracles aside)."""
    offenders = []
    sources = _py_sources() + sorted((PKG.parent / "tools").glob("*.py"))
    for p in sources:
        if p == PKG / "operators" / "text.py":
            continue
        code = _code_text(p)
        for m in _SPARK_TOKENIZER.finditer(code):
            line = code[:m.start()].count("\n") + 1
            offenders.append(f"{p.relative_to(PKG.parent)}:{line}")
    assert not offenders, (
        f"inline Spark tokenizer: {offenders} — use text.tokens_expr")


def test_bench_attempt_quiet_predicate_is_steal_proof():
    """r10 verdict item 1: the burst-retry predicate must trip on
    whole-window /proc meters, not only the dodgeable mp-canary min.
    Pins the predicate against the REAL attempt records: the loaded
    r10 driver attempt (steal 4.2 / load1 7.56 / mp 0.1757 — published
    25.58 s where the quiet tree measured 18.5-19.6 s) must now
    re-run; both recorded quiet closes must still publish."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", PKG.parent / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    r10_loaded = {"canary_mp_sec": 0.1757, "canary_sec": 0.2191,
                  "steal_pct": 4.2, "load1": 7.56}
    assert not bench._attempt_is_quiet(r10_loaded)

    r10_local = {"canary_mp_sec": 0.1749, "canary_sec": 0.1907,
                 "steal_pct": 0.01, "load1": 3.58}
    r10_close2 = {"canary_mp_sec": 0.1643, "canary_sec": 0.2194,
                  "steal_pct": 0.94, "load1": 4.46}
    assert bench._attempt_is_quiet(r10_local)
    assert bench._attempt_is_quiet(r10_close2)

    # each meter trips independently
    assert not bench._attempt_is_quiet(
        {"canary_mp_sec": 0.1643, "steal_pct": 1.5, "load1": 3.0})
    assert not bench._attempt_is_quiet(
        {"canary_mp_sec": 0.1643, "steal_pct": 0.0, "load1": 9.0})
    assert not bench._attempt_is_quiet(
        {"canary_mp_sec": 0.30, "steal_pct": 0.0, "load1": 1.0})
    # r11 advice: on Linux a MISSING /proc meter means the sampling
    # failed — it must read not-quiet instead of silently degrading to
    # the dodgeable canary-only predicate (non-Linux keeps the fallback)
    import sys as _sys
    if _sys.platform.startswith("linux"):
        assert not bench._attempt_is_quiet({"canary_mp_sec": 0.15})
        assert bench._quiet_failures({"canary_mp_sec": 0.15}) == [
            "steal_pct_missing", "load1_missing"]
    else:
        assert bench._attempt_is_quiet({"canary_mp_sec": 0.15})
    # the failure list names each tripped meter
    assert bench._quiet_failures(r10_loaded) == ["steal_pct", "load1"]
    assert bench._quiet_failures(r10_local) == []


def test_bench_publish_is_self_describing():
    """r11 verdict item 4: the published JSON must carry
    published_attempt_quiet + the failing meters so a retry-cap
    publication (like r11's best attempt at steal 1.61%) is legible to
    the driver without forensics. Pins the source, so a refactor that
    drops the flag fails here rather than silently."""
    src = (PKG.parent / "bench.py").read_text()
    assert '"published_attempt_quiet": _attempt_is_quiet(best)' in src
    assert '"quiet_fail_meters": _quiet_failures(best)' in src


#: The calls that materialise or release a frame. `session.materialize`
#: is the package's one way to materialise an intermediate.
MATERIALIZE_CALLS = {"persist", "cache", "localCheckpoint", "unpersist"}
#: (file, enclosing function, receiver, call) sites allowed to make one.
MATERIALIZE_ALLOWED = {
    ("session.py", "materialize", "df", "localCheckpoint"),
    # a Broadcast variable, not a DataFrame: one EM iteration's scores,
    # freed after that iteration's job
    ("operators/text.py", "unigram_train", "bc", "unpersist"),
}


def _materialize_sites() -> set[tuple[str, str, str, str]]:
    """(file, enclosing function, receiver source, call) of every
    MATERIALIZE_CALLS call in the package."""
    sites = set()
    for p in _py_sources():
        tree = ast.parse(p.read_text())
        parents = {c: n for n in ast.walk(tree)
                   for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in MATERIALIZE_CALLS):
                continue
            fn = parents.get(node)
            while fn is not None and not isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = parents.get(fn)
            sites.add((_rel(p), fn.name if fn else "<module>",
                       ast.unparse(node.func.value), node.func.attr))
    return sites


def test_one_materialisation_form():
    """Every operator-internal materialisation goes through
    `session.materialize`: one eager, named localCheckpoint that the
    ContextCleaner reclaims. A catalog persist/cache outlives the query
    that made it, a lazy one is filled inside its consumer's job (no
    operator name in a stage profile), and a raw localCheckpoint runs
    unnamed."""
    sites = _materialize_sites()
    offenders = sites - MATERIALIZE_ALLOWED
    assert not offenders, (
        f"materialise through session.materialize, not: {sorted(offenders)}")
    stale = MATERIALIZE_ALLOWED - sites
    assert not stale, f"stale MATERIALIZE_ALLOWED entries: {sorted(stale)}"


def test_materialize_names_its_job_and_restores_the_description(spark):
    """`materialize` runs its checkpoint job under the given name, then
    puts the caller's job description back."""
    from amazon_kinesis_replay_spark.session import materialize

    sc = spark.sparkContext
    bus, store = sc._jsc.sc().listenerBus(), sc._jsc.sc().statusStore()

    def jobs_after(job_id):
        """{job id: description} of the recorded jobs newer than
        `job_id` (the store lists the newest first)."""
        bus.waitUntilEmpty()     # the listener bus fills the store
        jobs, out = store.jobsList(None), {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job_id:
                break
            d = job.description()
            out[job.jobId()] = d.get() if d.isDefined() else None
        return out

    key = "spark.job.description"
    prev = sc.getLocalProperty(key)
    bus.waitUntilEmpty()
    recorded = store.jobsList(None)
    last = recorded.apply(0).jobId() if recorded.size() else -1
    sc.setLocalProperty(key, "caller description")
    try:
        out = materialize(spark.range(10).selectExpr("id * 2 AS x"),
                          "hygiene: materialize probe")
        assert sc.getLocalProperty(key) == "caller description"
    finally:
        sc.setLocalProperty(key, prev)
    named = jobs_after(last)
    assert named, "the checkpoint ran no job"
    assert set(named.values()) == {"hygiene: materialize probe"}, named
    assert sorted(r["x"] for r in out.collect()) == list(range(0, 20, 2))


def test_operator_materialisations_are_reclaimed_by_gc(spark, sf_dir):
    """Operator-internal materialisations are made inside registry
    queries whose callers never get control back, so no code can
    release them by hand. Once a query's result is dropped, garbage
    collection alone must reclaim every block they stored — with no
    `spark.catalog.clearCache()` — or a long-lived session accretes
    storage with every query it runs."""
    import gc

    from amazon_kinesis_replay_spark.plans import QUERIES

    jsc = spark.sparkContext._jsc
    # only the RDDs these queries add count: blocks of earlier tests are
    # in the map too, and the ContextCleaner may drop them at any moment
    before = set(jsc.getPersistentRDDs().keys())

    def added():
        # ids read inside the JVM: a `getPersistentRDDs()` map handed to
        # Python holds its RDDs strongly until py4j detaches it, so
        # polling through it keeps every RDD alive across each System.gc
        ids = jsc.sc().persistentRdds().keys().mkString(",")
        return {int(i) for i in ids.split(",") if i} - before

    for name in ("minhash_dedup", "ngram_jaccard_dedup", "doc_train_split",
                 "doc_text_profile", "doc_pii_redact", "dedup_clusters",
                 "dedup_exact", "multi_resolution_rollup",
                 "pairwise_topk_per_label"):
        QUERIES[name].fn(spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
    assert added(), \
        "fixture drift: these queries are expected to materialise subtrees"
    # the ContextCleaner frees an RDD once the JVM collects its last
    # reference, a few seconds after the first System.gc()
    deadline = time.monotonic() + 60
    while added() and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(1)
    left = set(jsc.getPersistentRDDs().keys()) - before
    assert not left, (
        f"{len(left)} materialised RDDs survived garbage collection: "
        "a materialisation outside session.materialize leaks storage in "
        "long-lived sessions")


def test_ensure_engine_conf_memoized_per_session(spark):
    """r13 opt: ensure_engine_conf is ~34 py4j round trips and
    tables.load calls it on EVERY load (memo hits included), so it is
    memoized per session object. Pins both halves of the contract:
    (a) a repeat call is a no-op — it must NOT re-assert a conf a test
    deliberately flipped mid-session (AQE-off tests rely on their
    setting surviving engine calls); (b) the memo flag is set, so the
    fast path is actually taken."""
    from amazon_kinesis_replay_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    assert getattr(spark, "_akrs_conf_asserted", False) is True
    key = "spark.sql.adaptive.enabled"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        ensure_engine_conf(spark)  # memo hit: must not override
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, orig)


def test_built_session_sizes_the_codegen_cache(spark):
    """`build_spark` sets the static codegen-cache size, so a repeat
    query finds its generated classes instead of recompiling them."""
    from amazon_kinesis_replay_spark.session import (
        CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES)

    assert spark.sparkContext.getConf().get(CODEGEN_CACHE_CONF) == str(
        CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)


def test_small_codegen_cache_warns_once_per_session():
    """A driver-owned session cannot take the static conf after its JVM
    started: `ensure_engine_conf` warns on its first assertion when the
    cache is below the engine's size (Spark's default 100 included),
    naming the conf and both numbers, and stays silent at or above it."""
    import warnings

    from amazon_kinesis_replay_spark import session as S

    class FakeContext:
        def __init__(self, conf):
            self.conf = conf

        def getConf(self):
            return self.conf

    class FakeSession:
        _akrs_pyfiles_shipped = True

        def __init__(self, conf):
            self.sparkContext = FakeContext(conf)
            self.conf = self

        def set(self, key, value):
            pass

        def get(self, key):
            return S.ENGINE_RUNTIME_CONF[key]

    n = S.CODEGEN_CACHE_ENTRIES
    for conf in ({S.CODEGEN_CACHE_CONF: str(n - 1)}, {}):
        fake = FakeSession(conf)
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            S.ensure_engine_conf(fake)
            S.ensure_engine_conf(fake)          # memo hit: no second warning
        assert len(seen) == 1, [str(w.message) for w in seen]
        msg = str(seen[0].message)
        assert S.CODEGEN_CACHE_CONF in msg and str(n) in msg
        assert conf.get(S.CODEGEN_CACHE_CONF, "100") in msg
    for conf in ({S.CODEGEN_CACHE_CONF: str(n)},
                 {S.CODEGEN_CACHE_CONF: str(n + 1)}):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            S.ensure_engine_conf(FakeSession(conf))


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _scope_nodes(body: list):
    """The nodes of one function scope: `body` without descending into
    nested functions or lambdas (a nested def itself is yielded). Class
    bodies are walked through, so a method's kernels count."""
    todo = list(body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _FUNCS + (ast.Lambda,)):
            todo.extend(ast.iter_child_nodes(node))


def _is_pandas_udf(decorator) -> bool:
    func = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(func, "id", getattr(func, "attr", None)) == "pandas_udf"


def _python_kernels(tree) -> list:
    """(line, name, def or None) of every function a module hands to Spark
    as Python code: the first positional argument of each `.mapInPandas(`
    call, resolved through the enclosing scopes (None when it is not a
    name defined there, or missing), and every def decorated with
    `pandas_udf`."""
    out = []

    def visit(body, env):
        nodes = list(_scope_nodes(body))
        env = {**env, **{n.name: n for n in nodes if isinstance(n, _FUNCS)}}
        for node in nodes:
            if isinstance(node, _FUNCS):
                if any(map(_is_pandas_udf, node.decorator_list)):
                    out.append((node.lineno, node.name, node))
                visit(node.body, env)
            elif (isinstance(node, ast.Call)
                  and getattr(node.func, "attr", None) == "mapInPandas"):
                arg = node.args[0] if node.args else node
                out.append((node.lineno, ast.unparse(arg),
                            env.get(arg.id) if isinstance(arg, ast.Name)
                            else None))

    visit(tree.body, {})
    return out


def test_every_python_kernel_drops_zip_finders():
    """Each function the package passes to `.mapInPandas(` or wraps with
    `pandas_udf` calls `session.drop_zip_finders`: on CPython 3.11/3.12
    the worker's per-task `importlib.invalidate_caches()` re-reads every
    cached zip finder's archive directory, ~0.17 CPU-s per task."""
    offenders, found = [], set()
    for p in _py_sources():
        for line, name, fn in _python_kernels(ast.parse(p.read_text())):
            found.add(name)
            calls = fn is not None and any(
                isinstance(n, ast.Call) and "drop_zip_finders" in (
                    getattr(n.func, "id", None), getattr(n.func, "attr", None))
                for n in ast.walk(fn))
            if not calls:
                offenders.append(f"{_rel(p)}:{line} {name}")
    assert {"_emit", "_decode_lines", "_enc", "_kernel",
            "_resize"} <= found, found
    assert not offenders, (
        f"Python kernels that do not call drop_zip_finders: {offenders}")


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    """After the helper no zip finder is cached, the worker's
    `invalidate_caches()` re-reads no archive, and a not-yet-imported
    submodule of the zipped package still imports (its finder is rebuilt
    from zipimport's directory cache, not from the archive)."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from amazon_kinesis_replay_spark.session import drop_zip_finders

    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("akrs_zpkg/__init__.py", "")
        zf.writestr("akrs_zpkg/one.py", "VALUE = 1\n")
        zf.writestr("akrs_zpkg/two.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))

    def zip_finders():
        return [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]

    reads = []
    read_directory = zipimport._read_directory
    try:
        one = importlib.import_module("akrs_zpkg.one")
        assert one.VALUE == 1
        assert isinstance(one.__loader__, zipimport.zipimporter)
        assert zip_finders()
        drop_zip_finders()
        assert not zip_finders()
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path)
                            or read_directory(path))
        importlib.invalidate_caches()
        assert importlib.import_module("akrs_zpkg.two").VALUE == 2
        assert zip_finders()            # rebuilt lazily by the import
        assert reads == []
    finally:
        for name in [m for m in sys.modules
                     if m == "akrs_zpkg" or m.startswith("akrs_zpkg.")]:
            del sys.modules[name]


def test_shipped_package_staging_dir_removed_at_exit(tmp_path):
    """`_ship_package` stages the package zip in a fresh temp dir that
    must outlive the session (local executors fetch the zip from it) and
    must not outlive the process. Runs it on a fake session in a child
    process whose temp root is `tmp_path`."""
    import os
    import subprocess
    import sys
    import textwrap

    child = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {str(PKG.parent)!r})
        from amazon_kinesis_replay_spark import session

        class FakeContext:
            def addPyFile(self, path):
                self.path = path

        class FakeSession:
            sparkContext = FakeContext()

        fake = FakeSession()
        session._ship_package(fake)
        assert fake._akrs_pyfiles_shipped
        assert os.path.isfile(fake.sparkContext.path)
        print(fake.sparkContext.path)
    """)
    run = subprocess.run([sys.executable, "-c", child], cwd=tmp_path,
                         env={**os.environ, "TMPDIR": str(tmp_path)},
                         capture_output=True, text=True, timeout=120)
    assert run.returncode == 0, run.stderr[-2000:]
    archive = Path(run.stdout.strip())
    assert archive.parent.parent == tmp_path
    assert archive.name == "amazon_kinesis_replay_spark.zip"
    assert not archive.parent.exists()
    assert not list(tmp_path.glob("akrs-pyfiles-*"))


#: Files a user or harness runs directly; every package module must be
#: imported (at module level or lazily inside a function) from one of
#: them, or it is code nothing runs.
ENTRY_POINTS = ("amazon_kinesis_replay_spark/cli.py",
                "amazon_kinesis_replay_spark/plans/registry.py",
                "bench.py", "__spark_entry__.py", "perfbench/*.py")

#: Package modules no entry point imports, each mapped to a one-line
#: reason it stays.
REACH_ALLOWED: dict[str, str] = {}


def _module_file(root: Path, name: str) -> Path | None:
    """The source file of dotted module `name` under `root`, if any."""
    p = root.joinpath(*name.split("."))
    for cand in (p / "__init__.py", p.with_suffix(".py")):
        if cand.is_file():
            return cand
    return None


def _module_name(root: Path, p: Path) -> str:
    parts = p.relative_to(root).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(root: Path, p: Path) -> set[str]:
    """Every module under `root` that file `p` imports anywhere in its
    body (function-level imports included), with the parent packages
    Python imports on the way."""
    pkg = _module_name(root, p).split(".")
    if p.name != "__init__.py":
        pkg = pkg[:-1]
    names = set()
    for node in ast.walk(ast.parse(p.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg[:len(pkg) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {n for n in out if _module_file(root, n) is not None}


def _unreached_modules(root: Path) -> set[str]:
    """Package modules the import walk from ENTRY_POINTS never reaches."""
    todo = [_module_name(root, f) for pat in ENTRY_POINTS
            for f in sorted(root.glob(pat))]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imported_modules(root, _module_file(root, name)))
    pkg = {_module_name(root, f) for f in (root / PKG.name).rglob("*.py")}
    return pkg - seen


def test_every_package_module_is_reachable_from_an_entry_point():
    """A module no entry point imports is code no user path runs; delete
    it, or allowlist it with the reason it stays."""
    unreached = _unreached_modules(PKG.parent)
    assert unreached <= set(REACH_ALLOWED), (
        f"modules no entry point imports: "
        f"{sorted(unreached - set(REACH_ALLOWED))}")
    assert set(REACH_ALLOWED) <= unreached, (
        f"stale REACH_ALLOWED entries (now reached or gone): "
        f"{sorted(set(REACH_ALLOWED) - unreached)}")


def _top_level_names(p: Path) -> set[str]:
    """Names a module binds at top level (defs, classes, assignments and
    imports) — what `from module import name` can fetch."""
    names = set()
    for node in ast.parse(p.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                names.update(n.id for n in ast.walk(t)
                             if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
    return names


def _files_outside_package(root: Path, patterns) -> list[Path]:
    """The files under `root` matching one of the glob `patterns`, less
    those inside the package."""
    files = {f for pat in patterns for f in root.glob(pat)}
    return sorted(f for f in files if not f.is_relative_to(root / PKG.name))


def test_tool_imports_resolve():
    """Every `from amazon_kinesis_replay_spark... import name` in a root
    file outside the package (tools/, bench.py, perfbench/,
    __spark_entry__.py) names an existing module and an attribute it
    defines (or a submodule), and every `alias.name` through a name
    bound to a package module (`from ...operators import similarity as
    S`, then `S.name`) names a top-level definition of that module (or a
    submodule) — checked from source, no Spark, no import side effects.
    A deletion that breaks one of them fails here instead of at the
    file's next run."""
    root = PKG.parent
    broken = []
    for path in _files_outside_package(root, ENTRY_POINTS + ("tools/*.py",)):
        rel = path.relative_to(root)
        tree = ast.parse(path.read_text())
        modules = {}                    # bound name -> package module
        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '')}"
            if isinstance(node, ast.Import):
                for a in node.names:
                    if not a.name.startswith(PKG.name):
                        continue
                    if _module_file(root, a.name) is None:
                        broken.append(f"{where} {a.name}")
                    elif a.asname:
                        modules[a.asname] = a.name
            elif (isinstance(node, ast.ImportFrom) and node.module
                  and node.module.startswith(PKG.name)):
                src = _module_file(root, node.module)
                if src is None:
                    broken.append(f"{where} {node.module}")
                    continue
                defined = _top_level_names(src)
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    if _module_file(root, sub) is not None:
                        modules[a.asname or a.name] = sub
                    elif a.name not in defined:
                        broken.append(f"{where} {sub}")
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in modules):
                continue
            mod = modules[node.value.id]
            if (node.attr not in _top_level_names(_module_file(root, mod))
                    and _module_file(root, f"{mod}.{node.attr}") is None):
                broken.append(f"{rel}:{node.lineno} "
                              f"{node.value.id}.{node.attr} ({mod})")
    assert not broken, f"package imports that do not resolve: {broken}"


def test_tests_and_tools_do_not_name_the_checkout_path():
    """A test or tool that spells out the checkout's absolute path
    imports or runs that checkout's code even when started from another
    copy of the repo; derive paths from `Path(__file__)` instead."""
    root = PKG.parent
    offenders = [f"{p.relative_to(root)}:{i + 1}"
                 for d in ("tests", "tools")
                 for p in sorted((root / d).rglob("*.py"))
                 for i, line in enumerate(p.read_text().splitlines())
                 if str(root) in line]
    assert not offenders, (
        f"files naming the checkout path {root}: {offenders}")


def test_slow_test_entries_name_existing_tests():
    """Every `conftest.SLOW_TESTS` entry names a `def test_...` in its
    file: a renamed or deleted slow test would leave a dead entry and
    silently rejoin the fast tier. Read from source, so it needs no
    collection and holds under any -k/-m/path selection."""
    from conftest import SLOW_TESTS

    root = PKG.parent
    stale = []
    for entry in sorted(SLOW_TESTS):
        path, name = entry.split("::")
        src = root / path
        tests = {n.name for n in ast.walk(ast.parse(src.read_text()))
                 if isinstance(n, _FUNCS)} if src.is_file() else set()
        if name not in tests:
            stale.append(entry)
    assert not stale, f"SLOW_TESTS entries naming no test: {stale}"


#: Package functions (qualified below the package) that no entry point
#: reaches — only tests or tools call them — each mapped to the one-line
#: reason it stays. Each counts as one more root of the function walk;
#: tests and tools are not roots, so code only they call must be listed
#: here or deleted.
UNREACHED_ALLOWED: dict[str, str] = {
    "operators.dedup.minhash_lsh_pairs":
        "the banding stage of the registry's minhash_dedup alone, whose "
        "candidate recall tools/recall_probe.py sweeps",
    "sources.lz4frame.frame_compress":
        "fixture encoder for the reached lz4 frame decoder",
    "sources.lz4frame.block_compress":
        "fixture encoder for the reached lz4 block decoder",
    "functions.webp.decode_webp_yuv":
        "the libwebp YUV witness hook for the reached VP8 decoder",
    "sources.ndjson.read_events":
        "batch twin of read_events_stream that the text decode tests drive",
    "sources.ndjson.read_events_sniffed":
        "batch twin of read_events_stream_sniffed that the codec tests "
        "drive",
    **{f"operators.sketches.{name}":
       "reads back a sketch the registry builds; replay lateness is "
       "planned to be read through qhist"
       for name in ("bloom_contains", "bloom_fpp", "bloom_merge",
                    "qhist_merge", "qhist_quantiles")},
}


def _names_used(nodes, strings: bool = False) -> set[str]:
    """Every name the code under `nodes` can reach a definition by: bare
    and attribute names, imported names and, with `strings`, identifier-
    shaped string literals (perfbench's tracer wraps package functions
    by `getattr(module, "name")`). Inside the package a string literal is
    data — a column or default name — not a reference."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.split(".")[-1])
            elif (strings and isinstance(n, ast.Constant)
                  and isinstance(n.value, str) and n.value.isidentifier()):
                out.add(n.value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _import_time(node) -> list:
    """What runs when definition `node` is executed: decorators, and a
    class's bases and keywords or a function's defaults."""
    out = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        return out + node.bases + node.keywords
    return out + node.args.defaults + [
        d for d in node.args.kw_defaults if d is not None]


def _is_method(node) -> bool:
    """A non-dunder function in a class body; dunders run implicitly."""
    return (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not (node.name.startswith("__")
                     and node.name.endswith("__")))


def _body(node) -> list:
    """The code a reached definition makes reached: a function's body, or
    a class body less its methods (each of which must be reached by name
    on its own)."""
    if isinstance(node, ast.ClassDef):
        return [b for b in node.body if not _is_method(b)]
    return node.body


def _unreached_functions(root: Path, extra_roots=()) -> set[str]:
    """`module.name` of every top-level package function or class, and
    `module.Class.name` of every non-dunder method of a top-level class,
    that no reached code refers to by name. Reached code is the whole of
    each root file outside the package, the module-level code of every
    package module (decorators, defaults and bases included — they run
    at import), the body of each `extra_roots` definition (named below
    the package), and the body of every definition already reached."""
    pkg = root / PKG.name
    used = set()
    for f in _files_outside_package(root, ENTRY_POINTS):
        used |= _names_used([ast.parse(f.read_text())], True)
    defs = {}
    for f in pkg.rglob("*.py"):
        mod = _module_name(root, f)
        for node in ast.parse(f.read_text()).body:
            if not isinstance(node, _DEFS):
                used |= _names_used([node])
                continue
            defs[f"{mod}.{node.name}"] = node
            used |= _names_used(_import_time(node))
            if isinstance(node, ast.ClassDef):
                for m in filter(_is_method, node.body):
                    defs[f"{mod}.{node.name}.{m.name}"] = m
                    used |= _names_used(_import_time(m))
    extra = {f"{PKG.name}.{q}" for q in extra_roots}
    for q in extra & set(defs):
        used |= _names_used(_body(defs[q]))
    todo = set(defs) - extra
    while True:
        hit = {q for q in todo if q.rsplit(".", 1)[1] in used}
        if not hit:
            return todo
        todo -= hit
        for q in hit:
            used |= _names_used(_body(defs[q]))


def test_every_package_function_is_reachable():
    """A top-level function or class, or a method of a package class,
    that no entry point reaches by name is code no user path runs;
    delete it, or allowlist it in UNREACHED_ALLOWED with the reason it
    stays."""
    unreached = _unreached_functions(PKG.parent, UNREACHED_ALLOWED)
    assert not unreached, (
        f"package functions no entry point refers to: "
        f"{sorted(unreached)}")
    allowed = {f"{PKG.name}.{q}" for q in UNREACHED_ALLOWED}
    stale = allowed - _unreached_functions(PKG.parent)
    assert not stale, (
        f"stale UNREACHED_ALLOWED entries (now reached or gone): "
        f"{sorted(stale)}")


#: Defaulted parameters of reached package functions (qualified below
#: the package, `module.function.param`) that production calls give
#: fewer than two distinct values, each mapped to the one-line reason
#: it stays a parameter.
PARAM_ALLOWED: dict[str, str] = {
    **{f"functions.flac.encode_flac.{p}":
       "fixture-encoder option: makes FLAC streams for the reached "
       "decoder's block-size, predictor, Rice-partition and stereo "
       "branches"
       for p in ("blocksize", "lpc_order", "partition_order", "stereo")},
    "functions.flac.decode_flac.stats":
        "test seam: the decode-path witness the lossless-matrix test "
        "reads to prove each reached decoder branch ran",
    "functions.gif.encode_gif.transparent_idx":
        "fixture-encoder option: makes GIFs for the reached decoder's "
        "transparency branch",
    "functions.jpeg.encode_jpeg.gray":
        "fixture-encoder option: makes grayscale JPEGs for the reached "
        "decoder's one-component branch",
    **{f"functions.tiff.encode_tiff.{p}":
       "fixture-encoder option: makes TIFFs for the reached decoder's "
       "bit-depth, sample-count and tiled-layout branches"
       for p in ("bits", "spp", "tile")},
    **{f"operators.multimodal.encode_png.{p}":
       "fixture-encoder option: makes PNGs for the reached decoder's "
       "color-type, palette and Adam7 branches"
       for p in ("ctype", "palette", "interlace")},
    "operators.dedup.dedup_clusters.max_iters":
        "bound a test lowers to reach the loud did-not-converge check "
        "(a chain past the production bound of 20 costs 10+ Spark jobs)",
}

#: Stands for a value the AST cannot pin: a non-literal argument, or one
#: a `*args`/`**kwargs` or a reference to the function may carry.
_MANY = object()


def _arg_value(node):
    """`repr` of a literal argument node, else `_MANY`."""
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _MANY


def _param_values(root: Path) -> dict[str, set]:
    """`module.function.param` → the values production calls give each
    defaulted parameter of a reached package function. Production calls
    are the calls in package files and entry-point files (not tests or
    tools), matched by the function's bare name; an omitted argument
    counts as the default, and a non-literal argument, a `*args` or
    `**kwargs` that can reach the parameter, or a use of the name other
    than as a call adds `_MANY`."""
    pkg = root / PKG.name
    defs = {}
    for f in pkg.rglob("*.py"):
        mod = _module_name(root, f).removeprefix(f"{PKG.name}.")
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, _FUNCS):
                defs[f"{mod}.{node.name}"] = (node, False)
            elif isinstance(node, ast.ClassDef):
                for m in filter(_is_method, node.body):
                    defs[f"{mod}.{node.name}.{m.name}"] = (m, True)
    unreached = {q.removeprefix(f"{PKG.name}.")
                 for q in _unreached_functions(root)}
    by_name: dict[str, list] = {}
    for q, (fn, method) in defs.items():
        if q not in unreached:
            by_name.setdefault(fn.name, []).append((q, fn, method))
    files = list(pkg.rglob("*.py")) + _files_outside_package(
        root, ENTRY_POINTS)
    calls, refs = [], set()
    for f in files:
        tree = ast.parse(f.read_text())
        callees = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                callees.add(id(n.func))
                calls.append(n)
        for n in ast.walk(tree):
            name = (n.id if isinstance(n, ast.Name) and isinstance(
                n.ctx, ast.Load) else n.attr
                if isinstance(n, ast.Attribute) else None)
            if name in by_name and id(n) not in callees:
                refs.add(name)
    out = {}
    for name, fns in by_name.items():
        named = [c for c in calls
                 if getattr(c.func, "id", getattr(c.func, "attr", None))
                 == name]
        for q, fn, method in fns:
            defaulted = _defaulted(fn)
            skip = 1 if method and not any(
                getattr(d, "id", None) == "staticmethod"
                for d in fn.decorator_list) else 0
            names = [p.arg for p in fn.args.posonlyargs + fn.args.args]
            for p in defaulted:
                out[f"{q}.{p}"] = {_MANY} if name in refs else set()
            for c in named:
                for p, v in _call_values(c, names[skip:], defaulted).items():
                    out[f"{q}.{p}"].add(v)
    return out


def _defaulted(fn) -> dict:
    """Parameter name → default node of `fn`'s defaulted parameters."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    out = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None})
    return out


def _call_values(call, names: list[str], defaulted: dict) -> dict:
    """Parameter → the value `call` gives each of `defaulted`, for a
    callee whose positional parameters (less `self`) are `names`."""
    given, starred = {}, False
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            starred = True
            break
        if i < len(names):
            given[names[i]] = arg
    kwstar = any(k.arg is None for k in call.keywords)
    given.update({k.arg: k.value for k in call.keywords
                  if k.arg is not None})
    return {p: _arg_value(given[p]) if p in given
            else _MANY if kwstar or (starred and p in names)
            else _arg_value(d)
            for p, d in defaulted.items()}


def test_every_parameter_takes_two_values():
    """A defaulted parameter of a reached package function that every
    production call sets to one value (an omitted argument is its
    default) is a knob no user path turns: fold it into that value and
    delete the paths only other values select, or allowlist it in
    PARAM_ALLOWED with the reason it stays."""
    values = _param_values(PKG.parent)
    single = {q for q, v in values.items()
              if _MANY not in v and len(v) < 2}
    assert single <= set(PARAM_ALLOWED), (
        "parameters production calls give one value: "
        + ", ".join(f"{q}={next(iter(values[q]), None)}"
                    for q in sorted(single - set(PARAM_ALLOWED))))
    assert set(PARAM_ALLOWED) <= single, (
        f"stale PARAM_ALLOWED entries (now two values or gone): "
        f"{sorted(set(PARAM_ALLOWED) - single)}")
