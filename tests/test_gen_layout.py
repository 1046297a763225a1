"""Generation layout of the durable reorder gate's held epochs: `gen=N/`
directories, each published by one atomic `_GEN_COMMITTED` marker
create. These tests pin the primitives themselves: only committed
generations are visible, unpadded names order by number, and GC keeps
the latest committed generation and any newer build in progress. The
gate's own crash, restart and budget tests are in
test_streaming_replay.py."""

from amazon_kinesis_replay_spark import fsutil


def test_gen_primitives_resolve_commit_gc(spark, tmp_path):
    root = str(tmp_path / "held")
    # fresh path: nothing committed
    assert fsutil.gen_latest(spark, root) == (-1, None)

    g1 = fsutil.gen_path(root, 1)
    assert g1.endswith("gen=0000000001")
    fsutil.write_text(spark, g1 + "/data/x.txt", "one")
    # an uncommitted build is INVISIBLE to readers, and GC leaves it
    # alone until some generation has committed
    assert fsutil.gen_latest(spark, root) == (-1, None)
    fsutil.gen_gc(spark, root)
    assert fsutil.exists(spark, g1 + "/data/x.txt")
    fsutil.gen_commit(spark, g1)
    assert fsutil.gen_latest(spark, root) == (1, g1)

    # a crashed build (no marker) stays invisible; the next commit wins
    g2, g3 = fsutil.gen_path(root, 2), fsutil.gen_path(root, 3)
    fsutil.write_text(spark, g2 + "/data/x.txt", "partial")
    assert fsutil.gen_latest(spark, root) == (1, g1)
    fsutil.write_text(spark, g3 + "/data/x.txt", "three")
    fsutil.gen_commit(spark, g3)
    assert fsutil.gen_latest(spark, root) == (3, g3)

    # unpadded names order by number, not lexically ("gen=12" < "gen=9")
    for n in (9, 12):
        fsutil.write_text(spark, f"{root}/gen={n}/data/x.txt", str(n))
        fsutil.gen_commit(spark, f"{root}/gen={n}")
    assert [n for n, _, _ in fsutil.gen_list(spark, root)] == [1, 2, 3, 9, 12]
    assert fsutil.gen_latest(spark, root) == (12, root + "/gen=12")

    # GC keeps the latest committed generation and a newer build in
    # progress; every older generation, committed or not, goes
    g13 = fsutil.gen_path(root, 13)
    fsutil.write_text(spark, g13 + "/data/x.txt", "in progress")
    fsutil.gen_gc(spark, root)
    assert fsutil.gen_list(spark, root) == [
        (12, "gen=12", True), (13, "gen=0000000013", False)]
    assert fsutil.exists(spark, root + "/gen=12/data/x.txt")
    assert fsutil.exists(spark, g13 + "/data/x.txt")
    for gone in (g1, g2, g3, root + "/gen=9"):
        assert not fsutil.exists(spark, gone)
    fsutil.gen_gc(spark, root)                    # idempotent
    assert [n for n, _, _ in fsutil.gen_list(spark, root)] == [12, 13]
    assert fsutil.gen_latest(spark, root) == (12, root + "/gen=12")


def test_write_read_bytes_round_trip(spark, tmp_path):
    """A multi-MB payload crosses py4j in bounded pieces both ways and
    comes back byte for byte, across piece boundaries and with every
    byte value; the file on disk holds exactly those bytes, and
    `write_text` writes UTF-8 through the same primitive."""
    import os

    data = os.urandom(2 * fsutil._CHUNK + 12345) + bytes(range(256))
    path = str(tmp_path / "blob" / "data.bin")
    fsutil.write_bytes(spark, path, data)
    assert open(path, "rb").read() == data
    assert fsutil.read_bytes(spark, "file://" + path) == data
    fsutil.write_bytes(spark, path, b"")                 # overwrite
    assert fsutil.read_bytes(spark, path) == b""
    fsutil.write_text(spark, path, "é\n")
    assert fsutil.read_bytes(spark, path) == "é\n".encode("utf-8")
