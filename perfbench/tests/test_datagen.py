import hashlib
import os

import numpy as np

from perfbench import datagen
from perfbench.run import HEADLINE


def _digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def _shards(out, seed, n=2_000, n_shards=4, stragglers=50):
    ev = datagen.events_columns(seed, n)
    plan = datagen.shard_plan(seed, n, n_shards, stragglers)
    datagen.write_shards(str(out), datagen.ndjson_lines(ev), plan)
    return plan


def test_shards_are_byte_identical_per_seed(tmp_path):
    _shards(tmp_path / "a", seed=5)
    _shards(tmp_path / "b", seed=5)
    _shards(tmp_path / "c", seed=6)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    mtimes = [os.stat(tmp_path / "a" / f).st_mtime
              for f in sorted(os.listdir(tmp_path / "a"))]
    assert mtimes == sorted(mtimes)


def test_straggler_plan_keeps_the_multiset_and_the_window():
    n, stragglers = 2_000, 50
    plan = datagen.shard_plan(9, n, 4, stragglers)
    assert sorted(np.concatenate(plan).tolist()) == list(range(n))
    for k in range(1, 4):
        own_start = k * n // 4
        moved = plan[k][plan[k] < own_start]
        # one batch late, picked from the previous run's newest rows
        assert stragglers // 2 <= len(moved) <= stragglers
        assert moved.min() >= own_start - 2 * stragglers
        assert moved.max() < own_start
    assert [p.tolist() for p in plan] == [
        p.tolist() for p in datagen.shard_plan(9, n, 4, stragglers)]
    flat = datagen.shard_plan(9, n, 4, 0)
    assert np.array_equal(np.concatenate(flat), np.arange(n))


def test_tables_are_byte_identical_per_seed(tmp_path):
    rows = datagen.make_tables(str(tmp_path / "a"), 4, 0.001)
    datagen.make_tables(str(tmp_path / "b"), 4, 0.001)
    datagen.make_tables(str(tmp_path / "c"), 5, 0.001)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert rows["lineitem"] == 6_000 and rows["documents"] == 500


def test_event_times_strictly_increase():
    ts = datagen.events_columns(1, 5_000)["ts"]
    assert (np.diff(ts.astype(np.int64)) > 0).all()
    secs = datagen.ts_seconds(ts)
    assert secs[0] == 0 and secs[-1] < datagen.EVENTS_SPAN_S * 1.2


def test_query_order_is_a_seeded_permutation():
    a = datagen.query_order(HEADLINE, 1, 3)
    assert sorted(a) == sorted(HEADLINE)
    assert a == datagen.query_order(HEADLINE, 1, 3)
    assert a != datagen.query_order(HEADLINE, 1, 4)
    assert a != datagen.query_order(HEADLINE, 2, 3)
