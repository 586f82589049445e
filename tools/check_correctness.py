"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB at the same sf_dir,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def normalize(rows: list[dict]) -> list[tuple]:
    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(norm_val(x) for x in v)
        if hasattr(v, "item"):  # numpy scalar
            return norm_val(v.item())
        return v

    out = []
    for r in rows:
        out.append(tuple((k, norm_val(r[k])) for k in sorted(r)))
    return sorted(out)


def main() -> None:
    import duckdb

    import __spark_entry__ as e
    from textextract_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="correctness-check", cores=8)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{sf_dir}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {exc}")
            continue
        drows = ddf.to_dict("records")
        scols = sorted(srows[0]) if srows else sorted(sdf.columns)
        dcols = sorted(drows[0]) if drows else sorted(ddf.columns)
        if scols != dcols:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={scols} duck={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(srows)} "
                  f"duck={len(drows)}")
            continue
        ns, nd = normalize(srows), normalize(drows)
        if ns != nd:
            failures.append(name)
            diff = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
            print(f"FAIL  {name}: {len(diff)} differing rows; first:")
            i = diff[0]
            print(f"      spark: {ns[i]}")
            print(f"      duck : {nd[i]}")
            continue
        print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
