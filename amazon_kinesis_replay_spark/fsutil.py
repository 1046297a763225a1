"""Hadoop FileSystem helpers for the durable reorder gate's state.

The gate's held epochs (`streaming/replay.py`) may live on HDFS or an
object store, not the driver's local disk — `os.path` probes are
silently wrong there (always False, so every batch "bootstraps" and
discards history). These helpers route every existence/list/delete,
and the bytes of the gate's epoch files, through the JVM-side Hadoop
FileSystem resolved FOR the path's scheme, so the same code is correct
on file://, hdfs:// and s3a://.
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


#: Bytes per py4j call of `write_bytes`/`read_bytes`: py4j moves a
#: byte array as one base64 string, so a file moves in bounded pieces.
_CHUNK = 1 << 22


def write_bytes(spark, path: str, data: bytes) -> None:
    """Create/overwrite the file at `path` with `data` through the
    Hadoop FS API — correct on file://, hdfs://, s3a://."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath(path), True)
    try:
        for i in range(0, len(data), _CHUNK):
            out.write(bytearray(data[i:i + _CHUNK]))
    finally:
        out.close()


def read_bytes(spark, path: str) -> bytes:
    """The whole file at `path`, read through the Hadoop FS API. Each
    piece crosses py4j as a base64 STRING encoded on the JVM side: py4j
    decodes a returned byte[] one Python int per byte (~12 MB/s)."""
    import base64
    jvm = spark._jvm
    fs, jpath = _fs(spark, path)
    p = jpath(path)
    left = fs.getFileStatus(p).getLen()
    copy = jvm.org.apache.commons.io.IOUtils.copyLarge
    encoder = jvm.java.util.Base64.getEncoder()
    parts = []
    inp = fs.open(p)
    try:
        while left > 0:
            k = min(left, _CHUNK)
            buf = jvm.java.io.ByteArrayOutputStream(4 * k // 3 + 4)
            out = encoder.wrap(buf)
            copy(inp, out, 0, k)
            out.close()                 # flushes the last base64 quantum
            parts.append(base64.b64decode(buf.toString("US-ASCII")))
            left -= k
    finally:
        inp.close()
    return b"".join(parts)


def write_text(spark, path: str, content: str) -> None:
    """Create/overwrite a small text file at `path` (manifests, markers)."""
    write_bytes(spark, path, content.encode("utf-8"))


def listdir(spark, path: str) -> list[str]:
    """Names of the direct children of `path` (empty when absent) — on
    the PATH's filesystem, like every helper here."""
    fs, jpath = _fs(spark, path)
    d = jpath(path)
    if not fs.exists(d):
        return []
    return [st.getPath().getName() for st in fs.listStatus(d)]


# ---------------------------------------------------------------------------
# Generation layout of the reorder gate's held epochs
# ---------------------------------------------------------------------------
#
# The durable reorder gate (`streaming/replay.py`) is the one client. Each
# micro-batch writes its held state as one generation directory and
# publishes it with one commit primitive — no rename anywhere, so it is as
# safe on object stores (where rename is copy+delete) as on HDFS:
#
#   <held>/gen=0000000007/held.parquet, _GEN_COMMITTED
#   <held>/gen=0000000008/held.parquet       <- crashed batch: no marker
#
# The batch writes a COMPLETE generation directory, then publishes it by
# creating the (empty) marker file LAST — a single atomic file create on
# every Hadoop filesystem (a single PUT on object stores). Readers resolve
# to the highest-numbered COMMITTED generation; a crash anywhere before the
# marker leaves the previous generation untouched, and the redelivered
# batch overwrites its own uncommitted directory.

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


def gen_commit(spark, build_dir: str) -> None:
    """Publish a completed generation: one marker-file create. This is
    the ENTIRE critical section — there is no multi-step window for a
    heal routine to disambiguate."""
    write_text(spark, f"{build_dir}/{GEN_MARKER}", "committed\n")


def gen_gc(spark, path: str) -> None:
    """Keep the latest committed generation: delete every generation
    older than it, committed or not (a crashed build is recomputable by
    contract), and leave a newer uncommitted one alone (a build in
    progress). No-op until a generation has committed. Idempotent and
    metadata-only; the gate calls it after `gen_commit`, so a crash
    between the two just leaves the superseded generation for the next
    batch to collect."""
    gens = gen_list(spark, path)
    latest = max((n for n, _, committed in gens if committed), default=None)
    if latest is None:
        return
    for n, name, _ in gens:
        if n < latest:
            delete(spark, f"{path}/{name}")
