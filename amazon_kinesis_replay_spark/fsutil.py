"""Hadoop FileSystem helpers for index/state directories.

Index paths (IVF/IVF×SQ8/BM25 state, reorder-gate epochs) may live on
HDFS or an object store, not the driver's local disk — `os.path` probes
are silently wrong there (always False, so every batch "bootstraps" and
discards history). These helpers route every existence/list/delete
through the JVM-side Hadoop FileSystem resolved FOR the path's scheme,
so the same code is correct on file://, hdfs:// and s3a://.
"""

from __future__ import annotations


def _fs(spark, path: str):
    """(FileSystem, Path-class) pair for `path`'s scheme."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def exists(spark, path: str) -> bool:
    """True iff `path` exists on its own filesystem (not the driver's)."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath(path)))


def delete(spark, path: str) -> None:
    """Recursive delete; no-op when absent."""
    fs, jpath = _fs(spark, path)
    fs.delete(jpath(path), True)


def has_committed_output(spark, path: str) -> bool:
    """True iff `path` holds COMMITTED job output: the _SUCCESS marker,
    or at least one non-hidden file. A bare `exists()` is optimistic —
    a crashed write leaves the directory (with only _temporary/ inside)
    before the commit, and treating that as a complete table would make
    a bootstrap-completeness probe route to the incremental path against
    broken state. No package module calls it; perfbench's replay tracer
    wraps it by name, so it stays."""
    fs, jpath = _fs(spark, path)
    d = jpath(path)
    if not fs.exists(d):
        return False
    if fs.exists(jpath(path + "/_SUCCESS")):
        return True
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def read_applied_batch(spark, path: str) -> int:
    """The applied-batch-id marker of an index directory (-1 when absent
    or unreadable). The explicit schema makes it one Spark job (the
    `head`), with no schema-inference job over the marker's footer
    first. No package module calls it; perfbench's replay tracer wraps
    it by name, so it stays."""
    try:
        row = spark.read.schema("batch_id long") \
            .parquet(path + "/applied").head()
        return int(row["batch_id"]) if row is not None else -1
    except Exception:
        return -1


def write_text(spark, path: str, content: str) -> None:
    """Create/overwrite a small text file at `path` (manifests, markers)
    through the Hadoop FS API — correct on file://, hdfs://, s3a://."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath(path), True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text(spark, path: str):
    """Contents of a small text file, or None when absent."""
    fs, jpath = _fs(spark, path)
    p = jpath(path)
    if not fs.exists(p):
        return None
    ins = fs.open(p)
    try:
        jvm = spark._jvm
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(ins, baos, 4096, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        ins.close()


def listdir(spark, path: str) -> list[str]:
    """Names of the direct children of `path` (empty when absent) — on
    the PATH's filesystem, like every helper here."""
    fs, jpath = _fs(spark, path)
    d = jpath(path)
    if not fs.exists(d):
        return []
    return [st.getPath().getName() for st in fs.listStatus(d)]


# ---------------------------------------------------------------------------
# Generation-pointer index layout (r8)
# ---------------------------------------------------------------------------
#
# Persisted-index rebuilds (IVF and IVF×SQ8 re-train, BM25 compaction) and
# the durable reorder gate's held epochs publish with one commit primitive —
# no rename anywhere, so it is as safe on object stores (where rename is
# copy+delete) as on HDFS:
#
#   <index>/gen=0000000001/<subs...>/_GEN_COMMITTED
#   <index>/gen=0000000002/<subs...>          <- crashed build: no marker
#
# A rebuild writes a COMPLETE new generation directory, then publishes it by
# creating the (empty) marker file LAST — a single atomic file create on
# every Hadoop filesystem (and a single PUT on object stores; no rename
# anywhere on the commit path). Readers resolve to the highest-numbered
# COMMITTED generation; a crash anywhere before the marker leaves the
# previous generation untouched and the partial build garbage-collected by
# the next writer. An index with no committed generation resolves to the
# root itself: the first IVF, IVF×SQ8 and BM25 writes build there, and the
# first rebuild moves the index into generations.

#: Marker file whose presence makes a generation directory visible to
#: readers. Written last; never listed by Spark (leading underscore).
GEN_MARKER = "_GEN_COMMITTED"

_GEN_PREFIX = "gen="


def gen_path(path: str, number: int) -> str:
    """Directory of generation `number` under `path` (zero-padded, so
    names sort like numbers)."""
    return f"{path}/{_GEN_PREFIX}{number:010d}"


def gen_list(spark, path: str) -> list[tuple[int, str, bool]]:
    """(number, child name, committed?) for every generation directory
    under `path`, ascending by number. Tolerates unpadded names."""
    out = []
    for name in listdir(spark, path):
        if not name.startswith(_GEN_PREFIX):
            continue
        tail = name[len(_GEN_PREFIX):]
        if tail.isdigit():
            out.append((int(tail), name,
                        exists(spark, f"{path}/{name}/{GEN_MARKER}")))
    return sorted(out)


def gen_latest(spark, path: str) -> tuple[int, str | None]:
    """(number, directory) of the latest COMMITTED generation, or
    (-1, None) when none has committed."""
    for n, name, committed in reversed(gen_list(spark, path)):
        if committed:
            return n, f"{path}/{name}"
    return -1, None


def gen_current(spark, path: str):
    """Directory of the latest COMMITTED generation, or None (no pointer
    layout yet — callers fall back to the legacy root)."""
    return gen_latest(spark, path)[1]


def gen_resolve(spark, path: str) -> str:
    """The directory index READS should use: the latest committed
    generation when present, else `path` itself (legacy layout)."""
    cur = gen_current(spark, path)
    return cur if cur is not None else path


def gen_begin(spark, path: str) -> str:
    """A fresh, guaranteed-empty build directory for the next generation.
    Uncommitted generations (crashed builds — recomputable by contract)
    are deleted first, so numbering never collides with a husk. Builds
    are single-writer, like the staging directory they replace."""
    gens = gen_list(spark, path)
    for n, name, committed in gens:
        if not committed:
            delete(spark, f"{path}/{name}")
    nxt = (max(n for n, _, _ in gens) + 1) if gens else 1
    return gen_path(path, nxt)


def gen_commit(spark, build_dir: str) -> None:
    """Publish a completed generation: one marker-file create. This is
    the ENTIRE critical section — there is no multi-step window for a
    heal routine to disambiguate."""
    write_text(spark, f"{build_dir}/{GEN_MARKER}", "committed\n")


def gen_gc(spark, path: str, legacy_subs=(), keep: int = 2) -> None:
    """Drop superseded state, RETENTION-BOUNDED (r9, verdict item 6):
    the newest `keep` committed generations always survive, so an
    in-flight reader that resolved gen N-1 just before a commit never
    has files deleted under it — readers pin a generation directory at
    `gen_resolve` time, and keep>=2 gives them a full rebuild cycle to
    finish (the Iceberg/Delta snapshot-retention contract). The ROOT
    layout's data subs (`legacy_subs`) are NOT retention-protected: the
    first IVF, IVF×SQ8 and BM25 writes build at the index root, and the
    first committed generation supersedes that root copy for every
    reader (`gen_resolve` never returns the root again), so it drops at
    once — a one-time move into generations, not a steady-state rebuild
    cycle. Uncommitted husks older than the latest committed generation
    are collected (a crashed build is recomputable by contract); a build
    newer than the latest commit is in progress and untouched.
    Idempotent and metadata-only; called from write paths after
    `gen_commit` — a crash between commit and GC just leaves the
    superseded generation for the next writer to collect."""
    if keep < 1:
        raise ValueError(f"gen_gc keep must be >= 1, got {keep}")
    gens = gen_list(spark, path)
    committed = [n for n, _, c in gens if c]
    if not committed:
        return
    latest = committed[-1]
    kept = set(committed[-keep:])
    for n, name, is_committed in gens:
        if n in kept:
            continue
        if is_committed or n < latest:
            delete(spark, f"{path}/{name}")
    for sub in legacy_subs:
        delete(spark, f"{path}/{sub}")
