"""Output checks and the statistics the benchmark reports.

Pure functions over plain data, so they run (and are tested) without
Spark: percentiles, the replay journal audit, and the oracle comparison
rule of ``tools/verify_local.py`` (row count, column names, and an
order-insensitive md5 of the stringified rows).
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
from dataclasses import dataclass, field

import numpy as np


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]) of a non-empty sample."""
    xs = np.sort(np.asarray(values, dtype=np.float64))
    if xs.size == 0:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q * xs.size))
    return float(xs[rank - 1])


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))


# -- replay journals -----------------------------------------------------------

def read_journals(journal_dir: str) -> list[list[dict]]:
    """One list of put records per sink instance (journal file), in call
    order."""
    out = []
    for path in sorted(glob.glob(os.path.join(journal_dir, "*.jsonl"))):
        with open(path) as fh:
            out.append([json.loads(line) for line in fh if line.strip()])
    return out


@dataclass
class Delivery:
    """What the sink saw during one replay, checked against the input."""
    accepted: int = 0
    offered: int = 0
    requests: int = 0
    retried: int = 0
    duplicates: int = 0
    missing: int = 0
    cap_violations: int = 0
    order_violations: int = 0
    batch_order_violations: int = 0
    lateness: np.ndarray = field(default_factory=lambda: np.zeros(0))
    first_arrival: float = math.nan

    @property
    def problems(self) -> list[str]:
        out = []
        for name in ("duplicates", "missing", "cap_violations",
                     "order_violations", "batch_order_violations"):
            if getattr(self, name):
                out.append(f"{name}={getattr(self, name)}")
        return out


def audit_delivery(journals: list[list[dict]], n_input: int,
                   ts_s: np.ndarray, due_s: np.ndarray,
                   max_per_request: int) -> Delivery:
    """Audit one replay's sink journals.

    ``ts_s[id]`` is each input event's time (any origin), ``due_s[id]`` its
    wall-clock due time. Checks: every input id accepted exactly once; no
    request above the cap; in each sink instance, the records offered for
    the first time arrive in non-decreasing event time (retries of
    rejected records are re-offers, not emission order); across
    micro-batches, no record a batch accepts is older than the newest
    record accepted in an earlier batch (the reorder gate's promise).
    Lateness is arrival (start of the accepting call) minus due time."""
    d = Delivery()
    seen = np.zeros(n_input, dtype=np.int64)
    arrivals: list[np.ndarray] = []
    ids_all: list[np.ndarray] = []
    batches: list[np.ndarray] = []
    for puts in journals:
        rejected: set[int] = set()
        last_ts = -math.inf
        for put in puts:
            ids = put["ids"]
            failed = set(put["failed"])
            d.requests += 1
            d.offered += len(ids)
            if len(ids) > max_per_request:
                d.cap_violations += 1
            retry = bool(ids) and all(e in rejected for e in ids)
            if retry:
                d.retried += len(ids)
            else:
                for e in ids:
                    if ts_s[e] < last_ts:
                        d.order_violations += 1
                    last_ts = max(last_ts, ts_s[e])
            rejected.update(ids[i] for i in failed)
            ok = np.array([e for i, e in enumerate(ids) if i not in failed],
                          dtype=np.int64)
            if ok.size:
                ids_all.append(ok)
                arrivals.append(np.full(ok.size, put["t0"]))
                batches.append(np.full(ok.size, put["batch"]))
    if ids_all:
        ids = np.concatenate(ids_all)
        wall = np.concatenate(arrivals)
        np.add.at(seen, ids, 1)
        d.accepted = int(ids.size)
        d.first_arrival = float(wall.min())
        d.lateness = wall - due_s[ids]
        d.batch_order_violations = cross_batch_violations(
            np.concatenate(batches), ts_s[ids])
    d.duplicates = int(np.maximum(seen - 1, 0).sum())
    d.missing = int((seen == 0).sum())
    return d


def cross_batch_violations(batch: np.ndarray, ts: np.ndarray) -> int:
    """Accepted records older than the newest record some earlier
    micro-batch accepted (``batch[i]`` and ``ts[i]`` per record)."""
    bad, newest = 0, -math.inf
    for b in np.unique(batch):
        t = ts[batch == b]
        bad += int((t < newest).sum())
        newest = max(newest, float(t.max()))
    return bad


# -- oracle comparison (tools/verify_local.py rule) --------------------------

def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(col_names, rows) -> str:
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    lines = sorted("\x1f".join(_norm_cell(row[i]) for i in order)
                   for row in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_to_oracle(cols, rows, oracle_cols, oracle_rows) -> list[str]:
    """Problems found comparing a Spark result with its DuckDB oracle
    (empty when they match)."""
    if len(rows) != len(oracle_rows):
        return [f"rows {len(rows)} != {len(oracle_rows)}"]
    if sorted(cols) != sorted(oracle_cols):
        return [f"cols {sorted(cols)} != {sorted(oracle_cols)}"]
    if value_hash(cols, [tuple(r) for r in rows]) != value_hash(
            oracle_cols, [tuple(r) for r in oracle_rows]):
        return ["value-hash mismatch"]
    return []
