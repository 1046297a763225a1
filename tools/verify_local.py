#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted column
names, and an order-insensitive value hash (columns sorted by name, rows
stringified + sorted, md5) — the same comparison shape the driver uses.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR_DEFAULT = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(col_names, rows):
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    lines = sorted(
        "\x1f".join(_norm_cell(row[i]) for i in order) for row in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    sf_dir = SF_DIR_DEFAULT
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    # Data-dependent oracles (simhash literal VALUES) must precompute
    # against the SAME sf as the Spark side; the driver's gate runs at the
    # env default (sf0.01).
    import os
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import duckdb

    import __spark_entry__ as entrymod
    from amazon_kinesis_replay_spark.session import build_spark

    spark = build_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh = value_hash(scols, [tuple(r) for r in srows])
            oh = value_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                sset = {tuple(_norm_cell(v) for v in r) for r in
                        ([tuple(r) for r in srows])}
                oset = {tuple(_norm_cell(v) for v in r) for r in orows}
                so = list(sset - oset)[:3]
                os_ = list(oset - sset)[:3]
                if so:
                    problems.append(f"spark-only e.g. {so}")
                if os_:
                    problems.append(f"oracle-only e.g. {os_}")
        status = "ok  " if not problems else "FAIL"
        if problems:
            failures.append(name)
        print(f"{status} {name}: {len(srows)} rows, {time.time()-t0:.1f}s"
              + ("" if not problems else " | " + "; ".join(problems)))

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
