"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, schema
(column names), and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from web_crawler_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd/unregistered name must FAIL, not silently check nothing
        # (masked a lost @_q decorator once)
        print(f"error: unknown queries: {sorted(unknown)}", file=sys.stderr)
        sys.exit(2)
    failures = []
    n_checked = 0                      # incremented per query ACTUALLY run —
    for name, fn in qs.items():        # NOT derived from the registry size
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = [d[0] for d in rel.description]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        else:
            hs = table_hash([tuple(r) for r in srows], scols)
            hd = table_hash(drows, dcols)
            if hs != hd:
                problems.append(f"hash {hs} vs {hd}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            if sorted(scols) == sorted(dcols) and srows and drows:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(norm_cell(r[i]) for i in order) for r in
                        [tuple(r) for r in srows]}
                dset = {tuple(norm_cell(r[i]) for i in order) for r in drows}
                for x in list(sset - dset)[:2]:
                    print(f"   spark-only: {x}")
                for x in list(dset - sset)[:2]:
                    print(f"   duck-only:  {x}")
        else:
            print(f"ok   {name}: {len(srows)} rows match "
                  f"({time.time()-t0:.1f}s)")
    print(f"\nchecked {n_checked}/{len(qs)} registered queries; "
          f"{len(failures)} failures" + (f": {failures}" if failures else ""))
    if not only and n_checked != len(qs):
        # a full run that somehow skipped a registered query must FAIL loud
        # (the driver's r04 file silently sampled 50 of 51 — round-4 Next #6)
        print(f"error: full run checked {n_checked} != registered {len(qs)}",
              file=sys.stderr)
        sys.exit(2)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
