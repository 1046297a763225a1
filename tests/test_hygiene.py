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
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "amazon_kinesis_replay_spark"

#: Files where driver-side collection is sanctioned because the collected
#: frame is bounded-small by construction (NOT corpus-scale). Growing this
#: list requires the same justification in the file's docstring.
COLLECT_ALLOWED = {
    "operators/similarity.py",   # centroid / codebook / k-means tables
    "operators/text.py",         # vocab-capped BPE merge aggregate
    "operators/sampling.py",     # len(cuts)-row quantile cut points off
                                 # the <=8k-row sketch (perplexity_buckets)
    "sources/ndjson.py",         # sniff-fallback SUSPECT PATH list —
                                 # bounded by max_fallback_files (loud
                                 # error beyond), paths not data
}
TOPANDAS_ALLOWED = {
    "streaming/replay.py",       # 1-row anchor / per-partition stat frames
}


def _py_sources():
    return sorted(PKG.rglob("*.py"))


def _rel(p: Path) -> str:
    return str(p.relative_to(PKG))


def test_collect_only_in_allowlisted_files():
    offenders = {}
    for p in _py_sources():
        hits = [i + 1 for i, line in enumerate(p.read_text().splitlines())
                if ".collect()" in line]
        if hits and _rel(p) not in COLLECT_ALLOWED:
            offenders[_rel(p)] = hits
    assert not offenders, (
        f"driver-side .collect() outside the bounded-small allowlist: "
        f"{offenders} — distribute the computation or justify + allowlist")


def test_topandas_only_in_allowlisted_files():
    offenders = {}
    for p in _py_sources():
        hits = [i + 1 for i, line in enumerate(p.read_text().splitlines())
                if ".toPandas()" in line]
        if hits and _rel(p) not in TOPANDAS_ALLOWED:
            offenders[_rel(p)] = hits
    assert not offenders, (
        f".toPandas() outside the allowlist: {offenders}")


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
        "bench", "/root/repo/bench.py")
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
    src = open("/root/repo/bench.py").read()
    assert '"published_attempt_quiet": _attempt_is_quiet(best)' in src
    assert '"quiet_fail_meters": _quiet_failures(best)' in src


def test_operator_persists_are_catalog_reclaimable(spark, sf_dir):
    """r13 verdict item 7: operator-internal persists (shingle arrays,
    PPJoin prefix index, LSH band entries) are created inside registry
    queries whose callers never get control back, so they must be
    CATALOG-scoped — one `spark.catalog.clearCache()` (what bench.py now
    runs between samples) must reclaim every block. A raw RDD-level
    persist would dodge the catalog and accrete storage for the life of
    a long-running session; this pins that none exists on the persisted-
    subtree query paths. (localCheckpoint blocks are ContextCleaner-
    reclaimed on GC and are deliberately out of scope here — the checked
    queries use catalog persists only.)"""
    from amazon_kinesis_replay_spark.plans import QUERIES

    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    base = jsc.getPersistentRDDs().size()
    for name in ("minhash_dedup", "ngram_jaccard_dedup", "doc_train_split"):
        QUERIES[name].fn(spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
    assert jsc.getPersistentRDDs().size() > base, \
        "fixture drift: these queries are expected to persist subtrees"
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() <= base, (
        "operator persists survived clearCache — an RDD-level persist "
        "outside the catalog leaks storage in long-lived sessions")


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


def test_tool_imports_resolve():
    """Every `from amazon_kinesis_replay_spark... import name` in tools/
    names an existing module and an attribute it defines (or a
    submodule), checked from source — no Spark, no import side effects.
    A tool importing deleted code fails here instead of at its next
    manual run."""
    root = PKG.parent
    broken = []
    for tool in sorted((root / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(tool.read_text())):
            where = f"tools/{tool.name}:{getattr(node, 'lineno', '')}"
            if isinstance(node, ast.Import):
                broken += [f"{where} {a.name}" for a in node.names
                           if a.name.startswith(PKG.name)
                           and _module_file(root, a.name) is None]
            elif (isinstance(node, ast.ImportFrom) and node.module
                  and node.module.startswith(PKG.name)):
                src = _module_file(root, node.module)
                if src is None:
                    broken.append(f"{where} {node.module}")
                    continue
                defined = _top_level_names(src)
                broken += [f"{where} {node.module}.{a.name}"
                           for a in node.names
                           if a.name not in defined and _module_file(
                               root, f"{node.module}.{a.name}") is None]
    assert not broken, f"tool imports that do not resolve: {broken}"


#: Roots of the function-level walk: the entry points, plus the tools and
#: tests that call package code directly.
FUNCTION_ROOTS = ENTRY_POINTS + ("tools/*.py", "tests/*.py")


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


def _unreached_functions(root: Path) -> set[str]:
    """`module.name` of every top-level package function or class that no
    reached code refers to by name. Reached code is the whole of each
    root file outside the package, the module-level code of every
    package module (decorators, defaults and bases included — they run
    at import), and the body of every definition already reached."""
    pkg = root / PKG.name
    used = set()
    for pat in FUNCTION_ROOTS:
        for f in root.glob(pat):
            if not f.is_relative_to(pkg):
                used |= _names_used([ast.parse(f.read_text())], True)
    defs = {}
    for f in pkg.rglob("*.py"):
        mod = _module_name(root, f)
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = node
                import_time = list(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    import_time += node.bases + node.keywords
                else:
                    import_time += node.args.defaults + [
                        d for d in node.args.kw_defaults if d is not None]
                used |= _names_used(import_time)
            else:
                used |= _names_used([node])
    todo = set(defs)
    while True:
        hit = {q for q in todo if q.rsplit(".", 1)[1] in used}
        if not hit:
            return todo
        todo -= hit
        for q in hit:
            used |= _names_used(defs[q].body)


def test_every_package_function_is_reachable():
    """A top-level function or class that no entry point, tool or test
    reaches by name is code nothing runs; delete it."""
    unreached = _unreached_functions(PKG.parent)
    assert not unreached, (
        f"package functions nothing refers to: {sorted(unreached)}")
