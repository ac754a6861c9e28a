"""Throughput smoke — the two fixed shapes recorded per round in
BASELINE.md, now a repeatable script instead of an ad-hoc snippet.

Shape A (identity drain): file source → envelope normalize →
transformer (one withColumn) → noop sink, availableNow. Measures the
engine's fixed streaming overhead plus marginal per-row cost with no
routing/batching work.

Shape B (full router): the complete topology — route_by → batch_key →
size chunking → two parquet sinks + DLQ + ack log — via
Pipeline.run_to_completion. Measures the end-to-end managed path.

Method: one warm-up drain per shape (JIT + parquet footer caches),
then N timed back-to-back drains; the MEDIAN is reported (this host
has up to 4× wall variance). Prints one JSON line:
  {"identity_s":..., "identity_rows_s":..., "router_s":...,
   "router_rows_s":..., "rows":..., "passes":...}

Usage: python scripts/throughput_smoke.py [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from broadway_spark import get_spark  # noqa: E402
from broadway_spark.config import (  # noqa: E402
    BatcherConfig,
    SinkConfig,
    TopologyConfig,
)
from broadway_spark.plans import Pipeline  # noqa: E402
from broadway_spark.sources import FileStreamSource  # noqa: E402

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stage_events(spark, sf_dir: str, base: str) -> tuple[str, int]:
    """One plain-TIMESTAMP parquet file of the events table (the ts
    physical type drifts between datagen versions; normalize once)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    src_dir = os.path.join(base, "src")
    ev.coalesce(1).write.mode("overwrite").parquet(src_dir)
    return src_dir, ev.count()


def time_identity_drain(spark, src_dir: str) -> float:
    src = FileStreamSource(
        name="smoke", path=src_dir, schema_ddl=EVENTS_DDL
    )
    df = (
        src.read_stream(spark)
        .withColumn("amount_cents", (F.col("value") * 100).cast("long"))
        .withColumn("status", F.lit(None).cast("string"))
    )
    t0 = time.time()
    q = (
        df.writeStream.format("noop")
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="bw_smoke_ck_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("identity drain did not finish")
    return time.time() - t0


def time_router_drain(spark, src_dir: str) -> float:
    base = tempfile.mkdtemp(prefix="bw_smoke_rt_")
    cfg = TopologyConfig(
        name=f"smoke-{uuid.uuid4().hex[:6]}",
        order_by="event_id",
        route_by=F.when(
            F.col("event_type") == "purchase", F.lit("billing")
        ),
        batch_key_by=F.col("user_id") % 16,
        batchers={
            "billing": BatcherConfig(batch_size=64),
            "default": BatcherConfig(batch_size=256),
        },
        sinks={
            "billing": SinkConfig(path=os.path.join(base, "billing")),
            "default": SinkConfig(path=os.path.join(base, "default")),
        },
        dlq=SinkConfig(path=os.path.join(base, "dlq")),
        ack_log=SinkConfig(path=os.path.join(base, "ack")),
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    src = FileStreamSource(
        name="smoke", path=src_dir, schema_ddl=EVENTS_DDL
    )
    pipe = Pipeline(cfg, src)
    t0 = time.time()
    pipe.run_to_completion(spark, timeout_s=300)
    dt = time.time() - t0
    shutil.rmtree(base, ignore_errors=True)
    return dt


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("throughput-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # router convention
    base = tempfile.mkdtemp(prefix="bw_smoke_")
    src_dir, n = _stage_events(spark, sf_dir, base)

    time_identity_drain(spark, src_dir)  # warm-up
    ident = [time_identity_drain(spark, src_dir) for _ in range(passes)]
    time_router_drain(spark, src_dir)  # warm-up
    router = [time_router_drain(spark, src_dir) for _ in range(passes)]

    mi, mr = statistics.median(ident), statistics.median(router)
    print(
        json.dumps(
            {
                "identity_s": round(mi, 2),
                "identity_rows_s": int(n / mi),
                "router_s": round(mr, 2),
                "router_rows_s": int(n / mr),
                "rows": n,
                "passes": passes,
                "identity_samples": [round(x, 2) for x in ident],
                "router_samples": [round(x, 2) for x in router],
            }
        )
    )
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
