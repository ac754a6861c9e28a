"""Replicates the driver's correctness gate locally: run every
``queries()`` entry in Spark and its ``oracle_sql()`` twin in DuckDB on
the same parquet dir, then compare row count, column names, and values
(columns sorted by name, rows sorted) — exact equality, since the
driver hashes values.

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # cells are pre-rounded by the queries; canonicalize -0.0
        return repr(v + 0.0 if v != 0 else 0.0)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    from decimal import Decimal

    if isinstance(v, Decimal):
        return repr(float(v))
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from broadway_spark import get_spark
    from broadway_spark.operators import materialize as matz

    spark = get_spark("selfcheck")
    # Scale-parity ritual (r8 verdict item 5): the standard session
    # pins shuffle.partitions=32 for local[32]; setting
    # SELFCHECK_SHUFFLE_PARTITIONS=200 re-runs queries under
    # cluster-default partitioning + AQE to catch
    # partition-count-sensitive bugs the pinned runs mask.
    import os as _os

    _sp = _os.environ.get("SELFCHECK_SHUFFLE_PARTITIONS")
    if _sp:
        spark.conf.set("spark.sql.shuffle.partitions", _sp)
    con = duck_con(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # Queries are independent: release operator-materialized
            # frames so cached blocks never accumulate across the suite.
            matz.release_all()
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(s_rows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            res = con.sql(oracles[name])
            d_cols = res.columns
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sc, sr = canon(s_rows, s_cols)
        dc, dr = canon(d_rows, d_cols)
        status = []
        if sc != dc:
            status.append(f"cols spark={sc} duck={dc}")
        if len(sr) != len(dr):
            status.append(f"rowcount spark={len(sr)} duck={len(dr)}")
        elif sr != dr:
            bad = sum(1 for a, b in zip(sr, dr) if a != b)
            ex = next((a, b) for a, b in zip(sr, dr) if a != b)
            status.append(f"{bad}/{len(sr)} rows differ, e.g. {ex[0]} vs {ex[1]}")
        if status:
            print(f"FAIL {name}: " + "; ".join(status))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
