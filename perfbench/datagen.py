"""Seeded inputs for the benchmark.

Everything the program under test sees is made here from the run's seed:
the fixture tables the registry queries read (same schemas and value
ranges as the fixture tables described in FIXTURES.md), the NDJSON shard
directories the replay workloads stream, and the per-pass query order.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale factor 1; a table at scale ``sf`` has
#: ``round(rows * sf)`` rows (documents and embeddings have a floor, like
#: the sf0.001-sf0.1 fixtures).
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_S = 30 * 86_400
#: Fixed modification times keep the file-stream source's shard order
#: (and the files' metadata) independent of when the shards were written.
SHARD_MTIME_BASE = 1_700_000_000


def table_rows(name: str, sf: float) -> int:
    return max(MIN_ROWS.get(name, 1), round(ROWS_AT_SF1[name] * sf))


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, rng, span_days: int, n) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n) * np.timedelta64(1, "D")


def events_columns(seed: int, n: int) -> dict:
    """The events table as numpy columns. ``ts`` is strictly increasing
    (so event_id order is event-time order) over a 30-day span."""
    rng = _rng(seed, 7)
    gaps = rng.exponential(EVENTS_SPAN_S * 1e6 / n, n).astype(np.int64) + 1
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENTS_START + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for _ in range(n):
        words = vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]
        texts.append(" ".join(words))
    # 5% near-duplicates: an earlier document plus one marker token
    for i in sorted(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_WEIGHTS)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables (one parquet file each) and return
    their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: table_rows(t, sf) for t in ROWS_AT_SF1}
    ts_us = pa.timestamp("us")
    i32 = pa.int32()
    r = _rng(seed, 1)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"])),
            "c_name": pa.array([f"Customer#{i:09d}"
                                for i in range(n["customer"])]),
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[r.integers(0, 5, n["customer"])])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"])),
            "s_name": pa.array([f"Supplier#{i:09d}"
                                for i in range(n["supplier"])]),
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])}),
    }
    np_ = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(np_)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(np.array(names)[r.integers(0, len(names), np_)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, np_)]),
        "p_size": pa.array(r.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no)),
        "o_custkey": pa.array(r.integers(0, n["customer"], no)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            r.integers(0, 3, no)]),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days("1995-01-01", r, 2404, no), ts_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            r.integers(0, 5, no)])})
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl)),
        "l_partkey": pa.array(r.integers(0, np_, nl)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nl)),
        "l_linenumber": pa.array(r.integers(1, 8, nl), i32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days("1995-01-02", r, 2498, nl), ts_us)})
    ev = events_columns(seed, n["events"])
    tables["events"] = pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], ts_us),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]])})
    tables["documents"] = _documents(_rng(seed, 2), n["documents"])
    tables["embeddings"] = _embeddings(_rng(seed, 3), n["embeddings"])
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def ndjson_lines(ev: dict) -> list[str]:
    """One minified JSON object per event, ``event_id`` first (the sink
    reads it back from the payload prefix), timestamp attribute under the
    reference's default name."""
    iso = np.datetime_as_string(ev["ts"], unit="us")
    return [
        f'{{"event_id":{i},"dropoff_datetime":"{t}","user_id":{u},'
        f'"event_type":"{e}","value":{v:.2f},"k":{k}}}'
        for i, t, u, e, v, k in zip(
            ev["event_id"].tolist(), iso.tolist(), ev["user_id"].tolist(),
            ev["event_type"].tolist(), ev["value"].tolist(),
            ev["k"].tolist())]


def shard_plan(seed: int, n: int, n_shards: int,
               max_stragglers: int = 0) -> list[np.ndarray]:
    """Event ids per shard, in file order. Shards cut the ts-ordered events
    into equal runs; with ``max_stragglers`` > 0, each shard k >= 1 also
    carries a seeded handful (half to all of ``max_stragglers``) of rows
    picked from the newest ``2 * max_stragglers`` rows of shard k-1, which
    arrive one micro-batch late. A reorder gate that holds back at least
    the newest ``2 * max_stragglers`` rows of each batch still has their
    successors when they arrive, so it emits them in order; without the
    gate they arrive after newer rows were emitted."""
    bounds = np.linspace(0, n, n_shards + 1).astype(np.int64)
    shards = [np.arange(bounds[k], bounds[k + 1]) for k in range(n_shards)]
    if max_stragglers:
        rng = _rng(seed, 11)
        for k in range(n_shards - 1, 0, -1):
            prev = shards[k - 1]
            m = int(rng.integers(max_stragglers // 2, max_stragglers + 1))
            window = min(len(prev), 2 * max_stragglers)
            pick = np.sort(len(prev) - window
                           + rng.choice(window, m, replace=False))
            moved = prev[pick]
            shards[k - 1] = np.delete(prev, pick)
            shards[k] = np.concatenate([shards[k], moved])
    return shards


def write_shards(out_dir: str, lines: list[str],
                 shards: list[np.ndarray]) -> list[str]:
    """Write one ``shard-NNN.jsonl`` file per shard; mtimes follow shard
    order so maxFilesPerTrigger=1 streams them in that order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, ids in enumerate(shards):
        path = os.path.join(out_dir, f"shard-{k:03d}.jsonl")
        with open(path, "w") as fh:
            fh.write("".join(lines[i] + "\n" for i in ids.tolist()))
        os.utime(path, (SHARD_MTIME_BASE + k, SHARD_MTIME_BASE + k))
        paths.append(path)
    return paths


def query_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded query order of one pass."""
    perm = _rng(seed, 13, pass_no).permutation(len(names))
    return [names[i] for i in perm]


def ts_seconds(ts: np.ndarray) -> np.ndarray:
    """Event times as float seconds since the first event."""
    return (ts - ts[0]).astype("timedelta64[us]").astype(np.int64) / 1e6

