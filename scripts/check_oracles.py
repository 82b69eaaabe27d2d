"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB over the
same parquet tables; compare row count, column names, and an
order-insensitive value multiset.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main():
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    # fixture oracles must materialize for THIS sf (driver default: sf0.01)
    os.environ["DEEPIE_ORACLE_SF_DIR"] = sf_dir

    from deepie_spark.session import get_spark

    spark = get_spark(app_name="oracle_check", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"  {name:28s} rows={len(srows):6d}  (no oracle, rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"✗ {name:28s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"✗ {name:28s} COLUMNS spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"✗ {name:28s} ROWS spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            sm = df_multiset(scols, [[r[c] for c in scols] for r in srows])
            dm = df_multiset(dcols, drows)
            if sm != dm:
                ok = False
                miss = [k for k in dm if sm.get(k) != dm[k]][:3]
                extra = [k for k in sm if dm.get(k) != sm[k]][:3]
                print(f"✗ {name:28s} VALUES differ; duck-only={miss} spark-only={extra}")
        if ok:
            print(f"✓ {name:28s} rows={len(srows):6d} MATCH")
        else:
            failures.append(name)

    print()
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL ORACLE CHECKS PASSED")


if __name__ == "__main__":
    main()
