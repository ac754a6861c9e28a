"""End-to-end pipeline tests over the spool source — the Spark
translation of the reference's pipeline behavior suite
(``test/broadway_test.exs``): drain completeness, failure diversion,
batcher routing, batch sizing, ack grouping, push_messages.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from broadway_spark.config import (
    BatcherConfig,
    SinkConfig,
    TopologyConfig,
)
from broadway_spark.message import failed_status
from broadway_spark.plans import Pipeline
from broadway_spark.sources import SpoolSource

from .conftest import EVENTS_DDL, make_events


def _mk_source(dirs, n=500, allowed=None):
    src = SpoolSource(
        name="spool",
        path=dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=allowed,
    )
    src.push_messages(make_events(n), "000_backlog.jsonl")
    return src


def _handle_message(df):
    # fail poison rows (error events) — Message.failed/2 analogue
    return df.withColumn(
        "status",
        F.when(
            F.col("event_type") == "error",
            failed_status("poison:error-event", "processor"),
        ).otherwise(F.col("status")),
    )


def _routed_config(dirs, **overrides):
    base = dict(
        name="e2e",
        handle_message=_handle_message,
        route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
        batch_key_by=F.col("user_id"),
        order_by="event_id",
        batchers={
            "billing": BatcherConfig(batch_size=16),
            "default": BatcherConfig(batch_size=64),
        },
        sinks={
            "billing": SinkConfig(path=dirs["sink"]),
            "default": SinkConfig(path=dirs["sink2"]),
        },
        dlq=SinkConfig(path=dirs["dlq"]),
        ack_log=SinkConfig(path=dirs["ack"]),
        checkpoint_dir=dirs["ckpt"],
    )
    base.update(overrides)
    return TopologyConfig(**base)


def test_drain_completeness_and_routing(spark, tmp_dirs):
    """Every pushed event is acked exactly once after the drain
    (broadway_test.exs:2467-2548); routes and DLQ split correctly."""
    src = _mk_source(tmp_dirs, n=500)
    pipe = Pipeline(_routed_config(tmp_dirs), src)
    pipe.run_to_completion(spark)

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 500
    assert ack.select("ack_data").distinct().count() == 500

    by_outcome = dict(
        ack.groupBy("outcome").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    # event_type cycle: every 5th starting at 3 is 'error' → 100 poison
    assert by_outcome == {"ok": 400, "failed": 100}

    billing = spark.read.parquet(tmp_dirs["sink"])
    assert billing.count() == 100  # 'purchase' rows
    assert billing.select("event_type").distinct().collect()[0][0] == "purchase"

    default = spark.read.parquet(tmp_dirs["sink2"])
    assert default.count() == 300
    dlq = spark.read.parquet(tmp_dirs["dlq"])
    assert dlq.count() == 100
    assert dlq.select("status.reason").distinct().collect()[0][0] == (
        "poison:error-event"
    )


def test_batch_size_contract(spark, tmp_dirs):
    """No ack group exceeds its batcher's batch_size; full chunks are
    trigger='size', partials 'timeout' (batcher_stage.ex:108-176)."""
    src = _mk_source(tmp_dirs, n=500)
    pipe = Pipeline(_routed_config(tmp_dirs), src)
    pipe.run_to_completion(spark)

    ack = spark.read.parquet(tmp_dirs["ack"]).filter(F.col("outcome") == "ok")
    sizes = (
        ack.groupBy("batcher", "batch_key", "trigger", "batch_size")
        .count()
        .collect()
    )
    for row in sizes:
        limit = 16 if row["batcher"] == "billing" else 64
        assert row["count"] <= limit
        assert row["count"] == row["batch_size"]
        if row["batch_size"] == limit:
            assert row["trigger"] == "size"
        else:
            assert row["trigger"] == "timeout"


def test_handle_batch_runs_per_group(spark, tmp_dirs):
    """handle_batch sees whole batches and its output lands in the sink
    (broadway.ex:1001-1029)."""

    def hook(name, pdf):
        pdf = pdf.copy()
        pdf["props"] = f"batch:{name}:" + str(len(pdf))
        return pdf

    src = _mk_source(tmp_dirs, n=200)
    pipe = Pipeline(_routed_config(tmp_dirs, handle_batch=hook), src)
    pipe.run_to_completion(spark)

    billing = spark.read.parquet(tmp_dirs["sink"])
    tags = [r[0] for r in billing.select("props").distinct().collect()]
    assert all(t.startswith("batch:billing:") for t in tags)


def test_rows_handle_batch_fails_are_acked_failed_not_written(spark, tmp_dirs):
    """handle_batch's output splits by status (batch_processor_stage.ex
    :52-127): the rows it fails go through handle_failed in the batch
    processor, then to the DLQ, and are acked 'failed' with the reason
    handle_failed left; they stay out of the batcher's sink."""

    def hook(name, pdf):
        status = [
            {"ok": False, "reason": "batch-reject", "stage": "batch"}
            if i % 10 == 2
            else s
            for i, s in zip(pdf["event_id"], pdf["status"])
        ]
        return pdf.assign(status=status)

    def dead_letter(pdf):
        status = [
            {"ok": s["ok"], "reason": f"dead:{s['reason']}", "stage": s["stage"]}
            for s in pdf["status"]
        ]
        return pdf.assign(status=status)

    src = _mk_source(tmp_dirs, n=200)
    cfg = _routed_config(tmp_dirs, handle_batch=hook, handle_failed=dead_letter)
    Pipeline(cfg, src).run_to_completion(spark)

    # purchases (billing) are ids 2, 7, 12, ...: the hook fails 2, 12, ...
    rejected = set(range(2, 200, 10))
    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 200
    failed = ack.filter(F.col("reason") == "dead:batch-reject")
    assert {int(r["ack_data"]) for r in failed.collect()} == rejected
    assert {(r["outcome"], r["batcher"]) for r in failed.collect()} == {
        ("failed", "billing")
    }
    billing = {r[0] for r in spark.read.parquet(tmp_dirs["sink"]).select("event_id").collect()}
    assert billing == set(range(7, 200, 10))
    dlq = spark.read.parquet(tmp_dirs["dlq"])
    rows = dlq.select("event_id", "status.reason", "dlq_disposition").collect()
    in_dlq = {r["event_id"]: (r["reason"], r["dlq_disposition"]) for r in rows}
    assert len(in_dlq) == len(rows)  # one DLQ row per message
    assert {i: in_dlq[i] for i in rejected} == {
        i: ("dead:batch-reject", "terminal") for i in rejected
    }
    # the processor's failures (error events) share the one DLQ write
    poison = set(range(3, 200, 5))
    assert set(in_dlq) == rejected | poison
    assert {in_dlq[i] for i in poison} == {("dead:poison:error-event", "terminal")}


def test_unknown_batcher_diverted(spark, tmp_dirs):
    """Routing to an undeclared batcher fails the row instead of
    crashing (processor_stage.ex:213-220, as data)."""
    src = _mk_source(tmp_dirs, n=100)
    cfg = _routed_config(
        tmp_dirs,
        route_by=F.when(
            F.col("event_type") == "purchase", F.lit("nonexistent")
        ),
        handle_message=None,
    )
    pipe = Pipeline(cfg, src)
    pipe.run_to_completion(spark)

    dlq = spark.read.parquet(tmp_dirs["dlq"])
    reasons = {r[0] for r in dlq.select("status.reason").distinct().collect()}
    assert reasons == {"unknown batcher: nonexistent"}
    assert dlq.count() == 20  # the purchase rows


def test_push_messages_midstream(spark, tmp_dirs):
    """S2: out-of-band messages appended to the spool are picked up by
    the next drain (push is just another file)."""
    src = _mk_source(tmp_dirs, n=100)
    pipe = Pipeline(_routed_config(tmp_dirs), src)
    pipe.run_to_completion(spark)
    src.push_messages(make_events(50, start=100), "001_push.jsonl")
    pipe.run_to_completion(spark)

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 150
    assert ack.select("ack_data").distinct().count() == 150


def test_source_commit_journal(spark, tmp_dirs):
    """A1: the source's commit() journal records acked progress.

    Structured Streaming invokes source.commit(epoch) at the start of
    the *next* trigger (the durable ack is the checkpoint commit log) —
    so the journal entry for run 1 appears during run 2."""
    src = _mk_source(tmp_dirs, n=100)
    pipe = Pipeline(_routed_config(tmp_dirs), src)
    pipe.run_to_completion(spark)
    src.push_messages(make_events(10, start=100), "001_more.jsonl")
    pipe.run_to_completion(spark)

    journal = os.path.join(tmp_dirs["spool"], "_commits.jsonl")
    assert os.path.exists(journal)
    with open(journal) as fh:
        commits = [json.loads(l) for l in fh if l.strip()]
    assert commits and commits[-1]["committed_row"] >= 100


def test_consumer_mode_no_batchers(spark, tmp_dirs):
    """P5: no batchers → processor is terminal; acks still complete
    (topology.ex:277-281)."""
    src = _mk_source(tmp_dirs, n=120)
    cfg = TopologyConfig(
        name="consumer",
        handle_message=_handle_message,
        order_by="event_id",
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        dlq=SinkConfig(path=tmp_dirs["dlq"]),
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    pipe = Pipeline(cfg, src)
    pipe.run_to_completion(spark)

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 120
    ok_sink = spark.read.parquet(tmp_dirs["sink"])
    assert ok_sink.count() == 96  # 24 poison diverted


def test_run_to_completion_raises_when_the_drain_times_out(spark, tmp_dirs):
    """A drain that outlasts ``timeout_s`` is stopped and raises
    ``TimeoutError``: returning normally would hand back partial acks
    as a completed drain."""
    import time

    def slow(name, pdf):
        time.sleep(5)
        return pdf

    src = _mk_source(tmp_dirs, n=20)
    cfg = _routed_config(tmp_dirs, name="e2e-timeout", handle_batch=slow)
    with pytest.raises(TimeoutError, match="e2e-timeout"):
        Pipeline(cfg, src).run_to_completion(spark, timeout_s=1)
    assert not [q for q in spark.streams.active if q.name == "e2e-timeout"]


def test_streaming_equals_batch(spark, tmp_dirs):
    """SURVEY §5(c): the streamed result must equal the batch run of the
    same transforms on the same data."""
    src = _mk_source(tmp_dirs, n=300)
    pipe = Pipeline(_routed_config(tmp_dirs), src)
    pipe.run_to_completion(spark)

    streamed = (
        spark.read.parquet(tmp_dirs["sink2"])
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    # batch equivalent: same filter logic straight over the spool data
    raw = spark.createDataFrame(make_events(300))
    batch = (
        raw.filter(
            (F.col("event_type") != "error")
            & (F.col("event_type") != "purchase")
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    got = {r["user_id"]: (r["n"], round(r["s"], 2)) for r in streamed.collect()}
    want = {r["user_id"]: (r["n"], round(r["s"], 2)) for r in batch.collect()}
    assert got == want
