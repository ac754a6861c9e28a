"""Flow-control + ordering + delivery-semantics tests.

Mirrors the reference's rate-limiting suite
(``test/broadway_test.exs:2550-2757``), partition-ordering tests
(:1353-1517), flush-mode tests (:1514-1567), and checkpoint/no-dup
delivery semantics.
"""

import time

import pytest
from pyspark.sql import functions as F

from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
from broadway_spark.plans import Pipeline
from broadway_spark.sources import SpoolSource

from .conftest import EVENTS_DDL, make_events


def _source(dirs, n, allowed=None):
    src = SpoolSource(
        name="spool",
        path=dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=allowed,
    )
    src.push_messages(make_events(n), "000_backlog.jsonl")
    return src


def _basic_config(dirs, **overrides):
    base = dict(
        name="flow",
        order_by="event_id",
        batch_key_by=F.col("user_id"),
        batchers={"default": BatcherConfig(batch_size=50)},
        sinks={"default": SinkConfig(path=dirs["sink"])},
        ack_log=SinkConfig(path=dirs["ack"]),
        checkpoint_dir=dirs["ckpt"],
    )
    base.update(overrides)
    return TopologyConfig(**base)


def test_rate_limit_per_trigger(spark, tmp_dirs):
    """F2 contract (broadway_test.exs:2595-2645): with admission k, no
    micro-batch acks more than k messages, and the backlog still drains
    completely."""
    k = 25
    src = _source(tmp_dirs, n=100, allowed=k)
    pipe = Pipeline(_basic_config(tmp_dirs), src)
    q = pipe.start(spark, trigger="processingTime", processing_time="0 seconds")
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(tmp_dirs["ack"]).count() >= 100:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 100
    per_batch = ack.groupBy("batch_id").count().collect()
    assert all(r["count"] <= k for r in per_batch)
    assert len(per_batch) >= 4  # needed at least ceil(100/25) triggers


def test_per_key_ordering_and_chunk_ranges(spark, tmp_dirs):
    """X2 ordering contract (broadway_test.exs:1433-1454): within a
    batch_key, handle_batch sees event_ids in order, and successive
    chunks cover non-overlapping, increasing id ranges."""

    def hook(name, pdf):
        ids = pdf["event_id"].tolist()
        if ids != sorted(ids):
            raise RuntimeError(f"batch not ordered: {ids[:5]}...")
        pdf = pdf.copy()
        pdf["props"] = f"{ids[0]}:{ids[-1]}"
        return pdf

    src = _source(tmp_dirs, n=400)
    cfg = _basic_config(
        tmp_dirs,
        partition_by="user_id",
        handle_batch=hook,
        batchers={"default": BatcherConfig(batch_size=20)},
    )
    pipe = Pipeline(cfg, src)
    pipe.run_to_completion(spark)

    sink = spark.read.parquet(tmp_dirs["sink"])
    ranges = (
        sink.select("user_id", "props").distinct().collect()
    )
    by_key: dict = {}
    for r in ranges:
        lo, hi = map(int, r["props"].split(":"))
        by_key.setdefault(r["user_id"], []).append((lo, hi))
    for key, rs in by_key.items():
        rs.sort()
        for (lo1, hi1), (lo2, hi2) in zip(rs, rs[1:]):
            assert hi1 < lo2, f"overlapping chunks for key {key}: {rs}"


def test_flush_mode_trigger_label(spark, tmp_dirs):
    """B4: batch_mode='flush' rows carry trigger='flush' in the ack log
    (message.ex:118-133)."""

    def handle_message(df):
        return df.withColumn(
            "batch_mode",
            F.when(F.col("event_type") == "signup", F.lit("flush")).otherwise(
                F.col("batch_mode")
            ),
        )

    src = _source(tmp_dirs, n=100)
    pipe = Pipeline(
        _basic_config(tmp_dirs, handle_message=handle_message), src
    )
    pipe.run_to_completion(spark)

    ack = spark.read.parquet(tmp_dirs["ack"])
    flush_rows = ack.filter(F.col("trigger") == "flush")
    assert flush_rows.count() == 20  # the signup rows


def test_budget_splitter_stream(spark, tmp_dirs):
    """B2: (weight_column, budget) batch_size — every chunk's exclusive
    prefix stays under one budget span (options.ex:233-264)."""
    src = _source(tmp_dirs, n=300)
    cfg = _basic_config(
        tmp_dirs,
        batchers={"default": BatcherConfig(batch_size=("value", 200.0))},
    )
    pipe = Pipeline(cfg, src)
    pipe.run_to_completion(spark)

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 300
    # group sizes recorded; each group nonempty
    assert ack.filter(F.col("batch_size") < 1).count() == 0


def test_no_duplicate_acks_after_restart(spark, tmp_dirs):
    """L3/A6: a second drain with no new data must not re-ack anything
    (checkpoint replay safety)."""
    src = _source(tmp_dirs, n=150)
    pipe = Pipeline(_basic_config(tmp_dirs), src)
    pipe.run_to_completion(spark)
    pipe.run_to_completion(spark)  # restart, nothing new

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 150
    assert ack.select("ack_data").distinct().count() == 150


def test_rate_limit_interval_gap_contract(spark, tmp_dirs):
    """F2 wall-clock contract (broadway_test.exs:2595-2645): with
    allowed=k per interval T, every micro-batch admits ≤ k rows AND
    consecutive non-empty batches start ≥ ~T apart across ≥3 intervals
    — i.e. the admission rate is ≤ k/T over time, not just per batch."""
    from datetime import datetime

    k, interval_ms = 20, 500
    src = _source(tmp_dirs, n=120, allowed=k)
    pipe = Pipeline(_basic_config(tmp_dirs), src)
    q = pipe.start(
        spark, trigger="processingTime", processing_time=f"{interval_ms} milliseconds"
    )
    progresses = []
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(tmp_dirs["ack"]).count() >= 120:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        progresses = list(q.recentProgress)
    finally:
        q.stop()

    assert spark.read.parquet(tmp_dirs["ack"]).count() == 120

    rows_and_ts = []
    for p in progresses:
        d = p if isinstance(p, dict) else p.asDict() if hasattr(p, "asDict") else None
        if d is None:
            import json as _json

            d = _json.loads(p.json)
        if d["numInputRows"] > 0:
            ts = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00"))
            rows_and_ts.append((ts, d["numInputRows"]))
    rows_and_ts.sort()
    assert len(rows_and_ts) >= 4, "need ≥3 inter-batch gaps to assert the contract"
    assert all(n <= k for _, n in rows_and_ts), "admission exceeded k in a trigger"
    gaps = [
        (b - a).total_seconds()
        for (a, _), (b, _) in zip(rows_and_ts, rows_and_ts[1:])
    ]
    # ProcessingTime aligns to interval boundaries; allow scheduler
    # jitter but require the cadence to be the interval, not free-run.
    assert sum(1 for g in gaps if g >= 0.35) >= 3, f"gaps too tight: {gaps}"
