"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() through DuckDB on the same sf dir; compare
row-count, column names, and order-insensitive values.  Each entry's line
shows its wall time (Spark side, first call builds any index it needs).

Usage: python tools/check_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """Type-SENSITIVE normalization (r4): the driver hashes raw values, so a
    Decimal on one side vs an int/float on the other (an uncast aggregate —
    the r3 sample_split failure mode) must fail here too.  Decimals compare
    scale-insensitively against Decimals only; floats round to 6."""
    import decimal
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def run(sf_dir: str, names: list[str] | None = None) -> int:
    from lucene_plugin_spark.session import get_spark
    spark = get_spark("check_entry", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except Exception:
            pass
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name} [{time.perf_counter() - t0:.2f} s]: spark error: {ex}")
            failures += 1
            continue
        wall = f"[{time.perf_counter() - t0:.2f} s]"
        if name not in oracles:
            print(f"ROWS-ONLY {name} {wall}: {len(srows)} rows (no oracle)")
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [c for c in ores.columns]
            orows = [tuple(norm(v) for v in r) for r in ores.fetchall()]
        except Exception as ex:
            print(f"FAIL {name} {wall}: duckdb error: {ex}")
            failures += 1
            continue
        ok_cols = [c.lower() for c in scols] == [c.lower() for c in ocols]
        ok_count = len(srows) == len(orows)
        ok_vals = sorted(map(repr, srows)) == sorted(map(repr, orows))
        if ok_cols and ok_count and ok_vals:
            print(f"OK   {name} {wall}: {len(srows)} rows")
        else:
            failures += 1
            print(f"FAIL {name} {wall}: cols {scols} vs {ocols} | rows {len(srows)} vs {len(orows)}")
            sset = set(map(repr, srows))
            oset = set(map(repr, orows))
            for x in list(sset - oset)[:3]:
                print(f"   spark-only: {x}")
            for x in list(oset - sset)[:3]:
                print(f"   oracle-only: {x}")
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or None
    sys.exit(1 if run(sf, names) else 0)
