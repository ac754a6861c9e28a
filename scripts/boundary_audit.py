"""Empirical 6dp-rounding boundary audit (r10).

The sf1 ritual caught evt_burstiness publishing round(Σgap/n, 6) where
the true value was an exact 6.5dp decimal — Spark's BigDecimal HALF_UP
and DuckDB's scaled-double rounding disagree by 1 ulp exactly on such
half-way cases. The class: any ROUNDED DOUBLE column whose underlying
value is a ratio of exact integers (terminating/short-denominator
rational) can land on a boundary; irrational outputs (sqrt, log,
interpolated percentiles) have measure-zero risk.

This script runs every registered query's ORACLE (DuckDB — cheap, no
Spark needed; the Spark side produces the same doubles when green) and
flags double cells whose value sits within REL_TOL of a half-way
boundary at the 6th decimal: |frac(|x|·10^6) − 0.5| scaled by ulp.
Zero hits at a given sf_dir = the oracle gate is provably
boundary-collision-free for that data; a hit names the query/column to
convert to integer DIV/ppm (the BASELINE.md numeric-policy rule).

Usage: python scripts/boundary_audit.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# |x·1e6 − (k + 0.5)| < TOL flags a half-way neighborhood. The
# divergent zone is ~1 double-ulp of x·1e6; TOL is set ~1000× wider so
# the audit also surfaces NEAR-boundary values that a different SF or
# datagen seed could push over.
TOL = 1e-6


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = entrymod.oracle_sql()
    hits: list[tuple[str, str, float]] = []
    n_cells = 0
    skipped: list[str] = []
    for name, sql in oracles.items():
        try:
            res = con.sql(sql)
            cols = res.columns
            rows = res.fetchall()
        except Exception as e:  # noqa: BLE001 - audit must not die
            print(f"SKIP {name}: oracle error: {e}")
            skipped.append(name)
            continue
        for r in rows:
            for c, v in zip(cols, r):
                if not isinstance(v, float) or not math.isfinite(v):
                    continue
                n_cells += 1
                scaled = abs(v) * 1e6
                # once ulp(scaled) exceeds TOL the fractional part
                # cannot carry half-way signal at this tolerance —
                # frac is pure quantization noise and lands EXACTLY on
                # representable points like 0.5 (r13: two h14 revenue
                # sums at 0.975·2^52, ulp 0.5, false-flagged under the
                # old `scaled >= 2^52` proxy for the same rationale).
                # Columns that large are decimal-exact sums cast to
                # double (identical-double-path on both engines), not
                # rounded ratios; the 6th decimal does not exist in
                # the value, so there is no rounding decision to
                # diverge on.
                if math.ulp(scaled) > TOL:
                    continue
                frac = scaled - math.floor(scaled)
                if abs(frac - 0.5) < TOL:
                    hits.append((name, c, v))
    for name, c, v in hits:
        print(f"BOUNDARY {name}.{c} = {v!r}")
    print(
        f"{len(hits)} boundary-adjacent double cells / {n_cells} "
        f"double cells audited across {len(oracles) - len(skipped)}"
        f"/{len(oracles)} oracles ({len(skipped)} skipped) @ {sf_dir}"
    )
    # a clean exit certifies EVERY registered oracle was audited — a
    # skipped oracle (partial sf_dir, dialect error) must not read as
    # coverage (r10 ADVICE)
    if skipped:
        print(f"FAIL: {len(skipped)} oracle(s) not audited: "
              f"{', '.join(sorted(skipped)[:8])}"
              f"{' …' if len(skipped) > 8 else ''}")
        sys.exit(1)
    if hits:
        sys.exit(2)


if __name__ == "__main__":
    main()
