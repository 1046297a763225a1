#!/usr/bin/env python
"""Synthesize a larger scale factor by deterministic tiling of an
existing driver-generated fixture (TESTDATA.md; default: sf0.1 x10 ->
an sf1-equivalent). Built for the r9 verdict's #1 ask: measure the
overhead-amortization claim (Spark/DuckDB per-query ratios should FALL
as data grows) instead of arguing it.

Design: copy 0 is the source verbatim; copies 1..F-1 are key-shifted so
every foreign-key relationship stays within its copy (join fan-outs and
group cardinalities scale exactly linearly). The two similarity-bearing
tables get structure-preserving per-copy transforms so that DEDUP/ANN
work also scales linearly instead of quadratically:

- documents: every whitespace token gets a per-copy suffix (a bijective
  token renaming). Word-k-shingle Jaccard is EXACTLY preserved within a
  copy (bijections preserve set overlap) and is exactly zero across
  copies for k>=1 — duplicate-pair counts scale x F, not x F^2.
- embeddings: each copy is multiplied by a seeded random rotation
  (QR of a Gaussian matrix, det-corrected). Rotations preserve every
  within-copy cosine exactly; cross-copy cosines concentrate near 0 at
  dim=64, so cosine near-dup pairs and ANN neighborhoods scale x F.

Dimension tables (region, nation) are copied verbatim. Events keep
their timestamp range (density x F — how a real stream grows) with
event_id/user_id shifted.

Usage:
    python tools/gen_sf.py [--src /root/testdata/sf0.1] [--factor 10] \
        [--out <checkout>/.localdata/sf1]

The output dir name should end in `sf<value>` so bench.py parses the
scale factor from $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: table -> columns to shift by (copy * stride_of[ref_table]). Strides
#: are max(key)+1 of the UNDERLYING key's home table so references stay
#: internally consistent per copy.
KEY_SHIFTS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
    "events": {"event_id": "events_id", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

VERBATIM = ("region", "nation")


def _strides(src: str) -> dict[str, int]:
    out = {}
    for table, key in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                       ("part", "p_partkey"), ("orders", "o_orderkey"),
                       ("documents", "doc_id"), ("embeddings", "vec_id")):
        col = pq.read_table(f"{src}/{table}.parquet", columns=[key])[key]
        out[table] = int(pc.max(col).as_py()) + 1
    ev = pq.read_table(f"{src}/events.parquet",
                       columns=["event_id", "user_id"])
    out["events_id"] = int(pc.max(ev["event_id"]).as_py()) + 1
    out["events_user"] = int(pc.max(ev["user_id"]).as_py()) + 1
    return out


def _shift_keys(tbl: pa.Table, shifts: dict[str, str],
                strides: dict[str, int], copy: int) -> pa.Table:
    for col, ref in shifts.items():
        i = tbl.schema.get_field_index(col)
        typ = tbl.schema.field(i).type
        shifted = pc.add(tbl.column(i), copy * strides[ref]).cast(typ)
        tbl = tbl.set_column(i, tbl.schema.field(i), shifted)
    return tbl


def _stopword_keep_set() -> frozenset:
    """Engine EN_STOPWORDS as a frozenset — resolved once (r13 review:
    the per-copy form re-inserted the repo root into sys.path on every
    copy x table call)."""
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from amazon_kinesis_replay_spark.operators.text import EN_STOPWORDS
    return frozenset(EN_STOPWORDS)


def _transform_documents(tbl: pa.Table, copy: int,
                         preserve_stopwords: bool = False) -> pa.Table:
    """Bijective per-copy token renaming: append `q<copy>` to every
    whitespace token (the suffix letter keeps renamed tokens out of the
    source vocabulary even where words already end in digits).
    Recomputes n_chars = len(text) (source invariant, verified).

    preserve_stopwords=True (r13, opt-in) identity-maps the engine's
    EN_STOPWORDS instead of renaming them. Why: the default rename
    zeroes the stopword-ratio quality signal for every copy but 0
    (measured at sf1: copy 0 = 0.066, copies 1-9 = exactly 0.0), so
    quality-calibrated gates see 90% of the tiled corpus as
    junk-shaped and their volume guards fire by design — planted-junk
    gate precision/recall cannot be truth-measured on the default
    tiling. The trade: cross-copy word-shingle Jaccard is no longer
    exactly zero (shingles made ONLY of stopwords are shared), so keep
    the default tiling for dedup/ANN scale measurements and this mode
    for quality-gate measurements."""
    suf = f"q{copy}"
    keep = _stopword_keep_set() if preserve_stopwords else frozenset()
    texts = tbl["text"].to_pylist()
    new = [" ".join(t if t.lower() in keep else t + suf
                    for t in s.split(" ")) for s in texts]
    tbl = tbl.set_column(tbl.schema.get_field_index("text"),
                         tbl.schema.field("text"),
                         pa.array(new, pa.string()))
    n = pa.array([len(s) for s in new], tbl.schema.field("n_chars").type)
    return tbl.set_column(tbl.schema.get_field_index("n_chars"),
                          tbl.schema.field("n_chars"), n)


def _rotation(dim: int, copy: int) -> np.ndarray:
    rng = np.random.default_rng(0xC0FFEE + copy)
    q, r = np.linalg.qr(rng.standard_normal((dim, dim)))
    return q * np.sign(np.diag(r))  # uniform-Haar sign correction


def _transform_embeddings(tbl: pa.Table, copy: int) -> pa.Table:
    i = tbl.schema.get_field_index("embedding")
    col = tbl.column(i).combine_chunks()
    mat = np.vstack([np.asarray(v, np.float64)
                     for v in col.to_pylist()])
    rot = (mat @ _rotation(mat.shape[1], copy).T).astype(np.float32)
    arr = pa.array(list(rot), tbl.schema.field(i).type)
    return tbl.set_column(i, tbl.schema.field(i), arr)


def generate(src: str, out: str, factor: int,
             preserve_stopwords: bool = False) -> None:
    os.makedirs(out, exist_ok=True)
    strides = _strides(src)
    for t in VERBATIM:
        tbl = pq.read_table(f"{src}/{t}.parquet")
        pq.write_table(tbl, f"{out}/{t}.parquet")
        print(f"{t}: {tbl.num_rows} rows (verbatim)")
    for t, shifts in KEY_SHIFTS.items():
        base = pq.read_table(f"{src}/{t}.parquet")
        copies = []
        for c in range(factor):
            tbl = base if c == 0 else _shift_keys(base, shifts, strides, c)
            if c > 0 and t == "documents":
                tbl = _transform_documents(
                    tbl, c, preserve_stopwords=preserve_stopwords)
            if c > 0 and t == "embeddings":
                tbl = _transform_embeddings(tbl, c)
            copies.append(tbl)
        full = pa.concat_tables(copies)
        assert full.schema.equals(base.schema), t
        pq.write_table(full, f"{out}/{t}.parquet")
        print(f"{t}: {base.num_rows} -> {full.num_rows} rows")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default=str(
        Path(__file__).resolve().parents[1] / ".localdata" / "sf1"))
    ap.add_argument("--preserve-stopwords", action="store_true",
                    help="identity-map EN_STOPWORDS so quality-score "
                         "signals survive tiling (see "
                         "_transform_documents docstring)")
    a = ap.parse_args()
    generate(a.src, a.out, a.factor, preserve_stopwords=a.preserve_stopwords)
