"""Phase decomposition of the restart-drain queries (guide §1: measure
first). Monkeypatches the phase-boundary primitives — streaming query
start, _kill_mid_drain, awaitTermination, _await_acks, staging — to
timestamp each, runs the named drains, and prints a per-query timeline
so the fixed machinery (start/restore/commit floors) separates from
the data work. Nothing here changes results; patches only wrap.

Usage: python scripts/drain_decompose.py [--sf DIR] [--reps N] q...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EVENTS: list[tuple[float, str]] = []


def mark(label: str) -> None:
    EVENTS.append((time.time(), label))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import pyspark.sql.streaming.query as sq

    import __spark_entry__ as entry
    from broadway_spark import get_spark
    from broadway_spark.operators import materialize as matz

    # --- patches -----------------------------------------------------
    orig_kill = entry._kill_mid_drain

    def kill_patched(q, deadline_s: int = 120) -> int:
        mark("kill:begin")
        try:
            return orig_kill(q, deadline_s)
        finally:
            mark("kill:end")

    entry._kill_mid_drain = kill_patched

    orig_await_acks = entry._await_acks

    def await_acks_patched(*a, **k):
        mark("await_acks:begin")
        try:
            return orig_await_acks(*a, **k)
        finally:
            mark("await_acks:end")

    entry._await_acks = await_acks_patched

    orig_stage = entry._stage_event_files

    def stage_patched(*a, **k):
        mark("stage:begin")
        try:
            return orig_stage(*a, **k)
        finally:
            mark("stage:end")

    entry._stage_event_files = stage_patched

    import pyspark.sql.streaming.readwriter as srw

    orig_ws_start = srw.DataStreamWriter.start

    def ws_start_patched(self, *a, **k):
        mark("stream_start:begin")
        try:
            return orig_ws_start(self, *a, **k)
        finally:
            mark("stream_start:end")

    srw.DataStreamWriter.start = ws_start_patched

    orig_await = sq.StreamingQuery.awaitTermination

    def await_patched(self, timeout=None):
        mark("awaitTermination:begin")
        try:
            return orig_await(self, timeout)
        finally:
            mark("awaitTermination:end")

    sq.StreamingQuery.awaitTermination = await_patched

    orig_stop = sq.StreamingQuery.stop

    def stop_patched(self):
        mark("stop:begin")
        try:
            return orig_stop(self)
        finally:
            mark("stop:end")

    sq.StreamingQuery.stop = stop_patched

    # -----------------------------------------------------------------
    spark = get_spark("drain_decompose")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = entry.queries()
    qs["s1_scan"](spark, args.sf).write.format("noop").mode("overwrite").save()

    for name in args.queries:
        for rep in range(args.reps):
            EVENTS.clear()
            t0 = time.time()
            mark("query:begin")
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            mark("query:end")
            total = time.time() - t0
            print(f"\n=== {name} rep{rep}: total {total:.2f}s ===")
            prev = t0
            for ts, label in EVENTS:
                print(f"  +{ts - t0:7.2f}s (d {ts - prev:6.2f}s)  {label}")
                prev = ts
            matz.release_all()
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
