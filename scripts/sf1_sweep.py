"""Full-registry sf1 volume pass (r10 verdict item 6).

Runs EVERY non-drain registry query Spark-side at a synthetic sf1
(scripts/make_sf_synth.py output) under cluster-default partitioning
(200 shuffle partitions + AQE), recording row count, a canonical
content hash, and wall time — then runs the DuckDB oracle twin under a
per-query timeout and compares exactly where the twin stays tractable
at 10× volume (the dedup-pair oracles are quadratic in the synth's
deliberate 90%-duplicate corpus; Spark-side success + the sf0.01/sf0.1
exact hashes remain their correctness evidence, and the report records
WHICH queries fell back to the weaker Spark-only check — no silent
skips, per the boundary_audit rule).

r12 bounded twins (verdict item 4): every oracle-timeout query is
re-run END-TO-END — the same Spark operator chain AND the same oracle
SQL — against a BOUNDED copy of the sf1 directory whose hostile tables
(documents / events / lineitem) are deterministically sliced to ~10%
(id % 10 = 0). The slice keeps the sf1 data distribution (the 90%-
duplicate groups are id-interleaved, so duplicate structure survives)
while cutting the quadratic oracle cost ~100×, so the twin finishes
inside the timeout and the comparison is EXACT again. The report
records each timeout query's bounded verdict; the sweep exits nonzero
if any timeout query lacks a bounded exact match — no spark-only rows
without a failing exit, per the boundary_audit no-silent-skip rule.

Usage: python scripts/sf1_sweep.py [sf1_dir] [oracle_timeout_s] [out.json]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from selfcheck import TABLES, canon  # noqa: E402

# Tables the hostile-volume queries fan out on, with their slice key.
# id % 10 = 0 keeps ~10% while preserving the synth's duplicate-group
# structure (groups are id-interleaved by construction).
_SLICE_KEYS = {
    "documents": "doc_id",
    "events": "event_id",
    "lineitem": "l_orderkey",
}


def _make_bounded_dir(con: "duckdb.DuckDBPyConnection", sf_dir: str) -> str:
    """A ~10% deterministic slice of the hostile tables, other tables
    verbatim — single-file parquet per table so BOTH engines read the
    identical bounded input."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="sf1_bounded_")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        key = _SLICE_KEYS.get(t)
        if key is None:
            shutil.copyfile(src, dst)
        else:
            con.sql(
                f"COPY (SELECT * FROM '{src}' WHERE {key} % 10 = 0)"
                f" TO '{dst}' (FORMAT PARQUET)"
            )
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    oracle_timeout = float(sys.argv[2]) if len(sys.argv) > 2 else 180.0
    out_path = sys.argv[3] if len(sys.argv) > 3 else "sf1_sweep.json"

    import __spark_entry__ as entrymod
    from broadway_spark import get_spark
    from broadway_spark.operators import materialize as matz

    spark = get_spark("sf1sweep")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    drains = getattr(entrymod, "STREAMING_DRAINS", frozenset())
    oracles = entrymod.oracle_sql()
    report: dict[str, dict] = {}
    n_exact = n_spark_only = n_fail = n_no_oracle = 0
    for name, fn in entrymod.queries().items():
        if name in drains:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001 - sweep records failures
            report[name] = {"status": "spark_error", "error": str(e)[:300]}
            print(f"FAIL {name}: spark error: {str(e)[:160]}", flush=True)
            n_fail += 1
            continue
        finally:
            matz.release_all()
        s_wall = round(time.time() - t0, 2)
        sc, sr = canon(rows, cols)
        s_hash = hashlib.md5(repr((sc, sr)).encode()).hexdigest()
        entry = {
            "status": "spark_ok",
            "rows": len(sr),
            "hash": s_hash,
            "spark_s": s_wall,
        }
        sql = oracles.get(name)
        if sql is not None:
            timer = threading.Timer(oracle_timeout, con.interrupt)
            timer.start()
            t1 = time.time()
            try:
                res = con.sql(sql)
                d_cols = res.columns
                d_rows = res.fetchall()
            except Exception as e:  # noqa: BLE001 - timeout or error
                entry["oracle"] = "timeout_or_error"
                entry["oracle_note"] = str(e)[:160]
            else:
                dc, dr = canon(d_rows, d_cols)
                if (sc, sr) == (dc, dr):
                    entry["oracle"] = "exact_match"
                else:
                    entry["oracle"] = "MISMATCH"
                    bad = sum(1 for a, b in zip(sr, dr) if a != b)
                    entry["oracle_note"] = (
                        f"rows {len(sr)} vs {len(dr)}, {bad} differ"
                    )
            finally:
                timer.cancel()
            entry["oracle_s"] = round(time.time() - t1, 2)
        else:
            entry["oracle"] = "no_oracle"
        report[name] = entry
        if entry["oracle"] == "exact_match":
            n_exact += 1
            tag = "EXACT"
        elif entry["oracle"] == "MISMATCH":
            n_fail += 1
            tag = "MISMATCH"
        elif entry["oracle"] == "no_oracle":
            # Registry queries without an oracle twin (the driver's
            # weaker rows-only class) are tracked separately from
            # timeout-driven spark-only: they have no bounded-twin
            # remediation path and must not permanently fail the
            # sweep's spark-only exit rule (r12 ADVICE).
            n_no_oracle += 1
            tag = "NO-ORACLE"
        else:
            n_spark_only += 1
            tag = "SPARK-ONLY"
        print(
            f"{tag} {name} ({entry['rows']} rows, {s_wall}s spark"
            + (f", {entry.get('oracle_s')}s oracle" if sql else "")
            + ")",
            flush=True,
        )
    # --- r12 bounded twins: close every oracle-timeout gap exactly ---
    timeouts = sorted(
        n
        for n, e in report.items()
        if e.get("oracle") == "timeout_or_error"
    )
    n_bounded_exact = 0
    if timeouts:
        # The bounded slice is hundreds of MB at sf1 — always removed,
        # even when a twin raises (r12 ADVICE: try/finally rmtree).
        bdir = _make_bounded_dir(con, sf_dir)
        try:
            n_bounded_exact, n_spark_only, n_fail = _run_bounded_twins(
                spark, entrymod, matz, oracles, report, timeouts, bdir,
                oracle_timeout, n_spark_only, n_fail,
            )
        finally:
            import shutil

            shutil.rmtree(bdir, ignore_errors=True)

    summary = {
        "sf_dir": sf_dir,
        "n_exact": n_exact,
        "n_spark_only": n_spark_only,
        "n_no_oracle": n_no_oracle,
        "n_bounded_exact": n_bounded_exact,
        "n_fail": n_fail,
        "oracle_timeout_s": oracle_timeout,
        "queries": report,
    }
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(
        f"\n{n_exact} exact, {n_bounded_exact} bounded-exact, "
        f"{n_spark_only} spark-only, {n_no_oracle} no-oracle, "
        f"{n_fail} failed -> {out_path}"
    )
    # Timeout-driven spark-only without a bounded exact twin is a sweep
    # failure; no_oracle queries are reported above but cannot fail a
    # gate they have no remediation path for.
    return 1 if (n_fail or n_spark_only) else 0


def _run_bounded_twins(
    spark, entrymod, matz, oracles, report, timeouts, bdir,
    oracle_timeout, n_spark_only, n_fail,
):
    """r12 bounded twins: re-run each oracle-timeout query end-to-end
    (Spark chain AND oracle SQL) against the bounded slice; exact match
    converts its spark-only row. Returns updated counters."""
    n_bounded_exact = 0
    if timeouts:
        bcon = duckdb.connect()
        for t in TABLES:
            bcon.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{bdir}/{t}.parquet'"
            )
        qs = entrymod.queries()
        for name in timeouts:
            e = report[name]
            t0 = time.time()
            try:
                sdf = qs[name](spark, bdir)
                sc, sr = canon(
                    [tuple(r) for r in sdf.collect()], sdf.columns
                )
            except Exception as exc:  # noqa: BLE001 - sweep records
                e["bounded"] = "spark_error"
                e["bounded_note"] = str(exc)[:300]
                n_fail += 1
                continue
            finally:
                matz.release_all()
            b_spark_s = round(time.time() - t0, 2)
            timer = threading.Timer(oracle_timeout, bcon.interrupt)
            timer.start()
            t1 = time.time()
            try:
                res = bcon.sql(oracles[name])
                dc, dr = canon(res.fetchall(), res.columns)
            except Exception as exc:  # noqa: BLE001
                e["bounded"] = "oracle_timeout_or_error"
                e["bounded_note"] = str(exc)[:160]
                n_fail += 1
            else:
                if (sc, sr) == (dc, dr):
                    e["bounded"] = "exact_match"
                    n_bounded_exact += 1
                    n_spark_only -= 1
                else:
                    e["bounded"] = "MISMATCH"
                    n_fail += 1
            finally:
                timer.cancel()
            e["bounded_rows"] = len(sr)
            e["bounded_spark_s"] = b_spark_s
            e["bounded_oracle_s"] = round(time.time() - t1, 2)
            print(
                f"BOUNDED-{e['bounded'].upper()} {name}"
                f" ({e.get('bounded_rows', '?')} rows,"
                f" {b_spark_s}s spark,"
                f" {e.get('bounded_oracle_s')}s oracle)",
                flush=True,
            )
    return n_bounded_exact, n_spark_only, n_fail


if __name__ == "__main__":
    sys.exit(main())
