"""Local stand-in for the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
at sf0.01, compare row count + column names + order-insensitive value
hash. Usage: python tools/check_oracle.py [sf_dir]"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(rows, cols):
    cols_sorted = sorted(cols)
    idx = [cols.index(c) for c in cols_sorted]
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16], len(out)


def oracle_db(sf):
    """DuckDB connection with one view per testdata table under ``sf``."""
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    from kgspark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = oracle_db(sf)

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            shash, sn = canon(srows, scols)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({sn} rows, no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            orows = rel.fetchall()
            ocols = [d[0] for d in rel.description]
            ohash, on = canon(orows, ocols)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok = (sn == on) and (sorted(scols) == sorted(ocols)) and (shash == ohash)
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures += 1
            print(f"{status} {name}: spark {sn} rows {shash} cols={sorted(scols)} | "
                  f"duck {on} rows {ohash} cols={sorted(ocols)}")
            if sn and on and sorted(scols) == sorted(ocols):
                sset = set(canon([r], list(scols))[0] for r in srows)
                oset = set(canon([r], list(ocols))[0] for r in orows)
                print(f"   only-spark={len(sset - oset)} only-duck={len(oset - sset)}")
                for r in list(srows)[:3]:
                    print("   s:", r)
                for r in list(orows)[:3]:
                    print("   d:", r)
        else:
            print(f"{status} {name} ({sn} rows)")
    print(f"\n{len(qs) - failures}/{len(qs)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
