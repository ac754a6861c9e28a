"""Standalone warm timing for individual declared queries.

Runs each named query R times (default 3) against the noop sink after a
one-query JVM warmup, printing every sample plus the median — the
"measure first / warm standalone" loop of the optimization guide §1.
Optionally dumps .explain("formatted") per query with --plans DIR.

Usage: python scripts/qtime.py [--sf DIR] [--reps N] [--plans DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="", help="plan file suffix, e.g. _before")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from broadway_spark import get_spark
    from broadway_spark.operators import materialize as matz

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = entrymod.queries()

    # JVM / parquet-footer warmup (same ritual as bench.py).
    qs["s1_scan"](spark, args.sf).write.format("noop").mode("overwrite").save()

    for name in args.queries:
        fn = qs[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
            matz.release_all()
            spark.catalog.clearCache()
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            matz.release_all()
            spark.catalog.clearCache()
        if samples:  # --reps 0 = plans-only mode
            med = statistics.median(samples)
            print(
                f"{name}: median={med:.3f}s samples="
                + ",".join(f"{s:.3f}" for s in samples),
                flush=True,
            )


if __name__ == "__main__":
    main()
