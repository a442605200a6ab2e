"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, when an ``oracle_sql()`` entry
exists, the same-named SQL on DuckDB over the same parquet tables.

Usage:  python tools/check_oracle.py [sf_dir] [qkey ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from caraspark.oracle_compare import compare, duck_connection  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from caraspark.session import get_spark

    spark = get_spark("check_oracle")
    con = duck_connection(sf_dir)

    qs = ent.queries()
    oracles = ent.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                n = sdf.count()
                print(f"ROWS {name:18s} rows={n:7d}  (no oracle)  [{time.time()-t0:5.1f}s]")
                n_rows_only += 1
                continue
            ok, msg = compare(sdf, con, oracles[name])
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"error: {e}"
        if ok:
            print(f"PASS {name:18s} {msg}  [{time.time()-t0:5.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name:18s} {msg}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
