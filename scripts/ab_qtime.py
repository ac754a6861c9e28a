"""Interleaved same-window A/B timing for a module-level toggle.

The r14 verdict's measurement-hygiene rule: a with/without claim must
come from ONE host window, interleaved (A B B A A B ...), medians of
>= 5 reps — never a cross-window before/after. This harness times each
named query with a boolean module attribute flipped between reps, using
the bench methodology (noop sink, warm JVM, cache released between
reps, labeled jobs).

Usage:
  python scripts/ab_qtime.py \
      --toggle pkg.module:ATTR \
      [--sf DIR] [--reps N] q1 q2 ...

A = toggle True, B = toggle False. Prints per-query medians and all
samples for both arms.
"""

from __future__ import annotations

import argparse
import importlib
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5, help="reps PER ARM")
    ap.add_argument(
        "--toggle", required=True, help="pkg.module:ATTR (bool attr)"
    )
    ap.add_argument(
        "--values",
        default="True,False",
        help="comma-separated A,B values (bool or int literals)",
    )
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    mod_name, attr = args.toggle.split(":")
    mod = importlib.import_module(mod_name)
    if not hasattr(mod, attr):
        raise SystemExit(f"{mod_name} has no attribute {attr}")

    def _parse(v: str):
        if v in ("True", "False"):
            return v == "True"
        try:
            return int(v)
        except ValueError:
            return v  # string values, e.g. trigger intervals

    sep = ";" if ";" in args.values else ","
    val_a, val_b = (_parse(v) for v in args.values.split(sep))

    import __spark_entry__ as entrymod
    from broadway_spark import get_spark
    from broadway_spark.operators import materialize as matz

    spark = get_spark("ab_qtime")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = entrymod.queries()

    # JVM / parquet-footer warmup (same ritual as bench.py/qtime.py).
    qs["s1_scan"](spark, args.sf).write.format("noop").mode("overwrite").save()

    orig = getattr(mod, attr)
    try:
        for name in args.queries:
            fn = qs[name]
            samples: dict = {val_a: [], val_b: []}
            for i in range(args.reps):
                # ABBA ordering so neither arm always runs first.
                order = (val_a, val_b) if i % 2 == 0 else (val_b, val_a)
                for val in order:
                    setattr(mod, attr, val)
                    spark.sparkContext.setJobDescription(
                        f"ab:{name}:{attr}={val}"
                    )
                    t0 = time.time()
                    fn(spark, args.sf).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    samples[val].append(time.time() - t0)
                    matz.release_all()
                    spark.catalog.clearCache()
            med_t = statistics.median(samples[val_a])
            med_f = statistics.median(samples[val_b])
            print(
                f"{name}: {attr}={val_a} median={med_t:.3f}s "
                f"| {attr}={val_b} median={med_f:.3f}s "
                f"| delta(B-A)={med_f - med_t:+.3f}s",
                flush=True,
            )
            for val in (val_a, val_b):
                print(
                    f"  {val}: "
                    + ",".join(f"{s:.3f}" for s in samples[val]),
                    flush=True,
                )
    finally:
        setattr(mod, attr, orig)


if __name__ == "__main__":
    main()
