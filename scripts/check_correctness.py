"""Local replica of the driver's t2 correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, schema shape, and an order-insensitive value hash.

Usage: python scripts/check_correctness.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # normalize -0.0 / integral floats
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    lines = sorted("|".join(canon(r[k]) for k in order) for r in rows)
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, len(lines)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from g4s_spark.session import get_spark

    only = set(sys.argv[1:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            rows_only.append((name, len(srows)))
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {str(e)[:200]}")
            continue
        sh, sn = value_hash(scols, srows)
        oh, on = value_hash(ocols, orows)
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"SCHEMA: spark={sorted(scols)} oracle={sorted(ocols)}"))
            print(f"FAIL  {name}: column mismatch {sorted(scols)} vs {sorted(ocols)}")
        elif sn != on:
            failures.append((name, f"ROWS: spark={sn} oracle={on}"))
            print(f"FAIL  {name}: rowcount {sn} vs {on}  ({dt:.1f}s)")
        elif sh != oh:
            failures.append((name, "HASH"))
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)  ({dt:.1f}s)")
            # show a few differing lines for debugging
            order_s = sorted(range(len(scols)), key=lambda k: scols[k])
            order_o = sorted(range(len(ocols)), key=lambda k: ocols[k])
            sset = {"|".join(canon(r[k]) for k in order_s) for r in srows}
            oset = {"|".join(canon(r[k]) for k in order_o) for r in orows}
            for line in list(sset - oset)[:3]:
                print(f"        spark-only: {line}")
            for line in list(oset - sset)[:3]:
                print(f"        oracle-only: {line}")
        else:
            passed.append(name)
            print(f"ok    {name}: {sn} rows, hash match  ({dt:.1f}s)")

    print(f"\n{len(passed)} passed, {len(rows_only)} rows-only, {len(failures)} failed")
    if failures:
        for n, r in failures:
            print(f"  FAIL {n}: {r[:160]}")
        sys.exit(1)


if __name__ == "__main__":
    main()
