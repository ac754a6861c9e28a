"""Stateful-batcher tests: cross-micro-batch assembly + per-key timeout
timers (reference ``batcher_stage.ex`` semantics; SURVEY §2.4 B1-B4).
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from broadway_spark import message as M
from broadway_spark.config import (
    BatcherConfig,
    SinkConfig,
    TopologyConfig,
)
from broadway_spark.observe import Recorder
from broadway_spark.plans import Pipeline
from broadway_spark.sources import SpoolSource

from .conftest import EVENTS_DDL, make_events


def _wait_for_acks(spark, path, want, timeout_s=240):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            if spark.read.parquet(path).count() >= want:
                return True
        except Exception:
            pass
        time.sleep(1)
    return False


def _drain(spark, pipe, path, ack_path, want):
    """Drain ``pipe`` on start path ``path``: ``start`` runs to
    completion; ``start_stateful`` runs until ``want`` acks are logged,
    then settles so that no further ack may appear unseen."""
    if path == "start":
        pipe.run_to_completion(spark, timeout_s=120)
        return
    q = pipe.start_stateful(spark, processing_time="300 milliseconds")
    try:
        assert _wait_for_acks(spark, ack_path, want), "drain incomplete"
        time.sleep(2)
    finally:
        q.stop()


def test_cross_batch_assembly_and_timeout(spark, tmp_dirs):
    """Rows trickle in 40 per trigger with batch_size 50: full chunks
    can only form across micro-batches; the final 30-row remainder must
    be flushed by the per-key timer with trigger='timeout'
    (batcher_stage.ex:80-89,108-176)."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=40,
    )
    src.push_messages(make_events(130), "000.jsonl")
    cfg = TopologyConfig(
        name="stateful",
        order_by="event_id",
        batchers={"default": BatcherConfig(batch_size=50, batch_timeout_ms=2000)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
    try:
        assert _wait_for_acks(spark, tmp_dirs["ack"], 130), "drain incomplete"
    finally:
        q.stop()

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 130
    assert ack.select("ack_data").distinct().count() == 130

    groups = {
        (r["trigger"], r["batch_size"]): r["n"]
        for r in ack.groupBy("trigger", "batch_size")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # two full size-50 chunks + one 30-row timeout flush
    assert groups.get(("size", 50)) == 100
    assert groups.get(("timeout", 30)) == 30


def test_flush_mode_empties_buffer(spark, tmp_dirs):
    """batch_mode='flush' delivers everything buffered immediately
    (message.ex:118-133): no waiting for size or timer."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    events = make_events(30)
    for e in events:
        e["event_type"] = "view"
    events[-1]["event_type"] = "flushme"
    src.push_messages(events, "000.jsonl")

    def handle_message(df):
        return df.withColumn(
            "batch_mode",
            F.when(F.col("event_type") == "flushme", F.lit("flush")).otherwise(
                F.col("batch_mode")
            ),
        )

    cfg = TopologyConfig(
        name="flush",
        order_by="event_id",
        handle_message=handle_message,
        batchers={
            "default": BatcherConfig(batch_size=1000, batch_timeout_ms=600000)
        },
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
    try:
        # despite huge batch_size and timeout, flush delivers all 30
        assert _wait_for_acks(spark, tmp_dirs["ack"], 30, timeout_s=60)
    finally:
        q.stop()

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 30
    assert {r[0] for r in ack.select("trigger").distinct().collect()} == {"flush"}


def test_timestamp_payload_survives_state_roundtrip(spark, tmp_dirs):
    """Buffered rows must survive the state store round-trip exactly:
    event-time and date columns, a numeric-looking string, and a
    metadata map whose rows carry different keys or no map at all
    (schema-less Arrow encoding would turn the map into a struct and
    add null-valued keys to every row). 30 rows < batch_size buffer
    across a trigger and flush by timer; the sink must equal the
    input."""
    ddl = "event_id long, ts timestamp, event_day date, value double, code string"
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=ddl,
        ack_data_column="event_id",
    )
    rows = [
        {
            "event_id": i,
            "ts": f"2026-01-02T03:04:{i:02d}",
            "event_day": "2026-01-02",
            "value": i / 10.0,
            "code": f"{i:03d}",
        }
        for i in range(30)
    ]
    src.push_messages(rows, "000.jsonl")

    def metadata(i):
        if i == 0:
            return None
        return {"parity": "even"} if i % 2 == 0 else {"odd": str(i), "tag": "007"}

    def handle_message(df):
        eid = F.col("event_id")
        return df.withColumn(
            "metadata",
            F.when(eid == 0, F.lit(None).cast(M.METADATA_TYPE))
            .when(eid % 2 == 0, F.create_map(F.lit("parity"), F.lit("even")))
            .otherwise(
                F.create_map(
                    F.lit("odd"), eid.cast("string"), F.lit("tag"), F.lit("007")
                )
            ),
        )

    cfg = TopologyConfig(
        name="ts_state",
        order_by="event_id",
        handle_message=handle_message,
        batchers={"default": BatcherConfig(batch_size=50, batch_timeout_ms=1500)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
    try:
        assert _wait_for_acks(spark, tmp_dirs["ack"], 30, timeout_s=90)
    finally:
        q.stop()

    out = spark.read.parquet(tmp_dirs["sink"])
    assert out.count() == 30
    got = {
        (r["event_id"], str(r["ts"]), str(r["event_day"]))
        for r in out.select("event_id", "ts", "event_day").collect()
    }
    want = {
        (i, f"2026-01-02 03:04:{i:02d}", "2026-01-02") for i in range(30)
    }
    assert got == want
    envelope = {
        r["event_id"]: (r["code"], r["metadata"], r["ack_data"], r["ok"])
        for r in out.select(
            "event_id", "code", "metadata", "ack.ack_data", "status.ok"
        ).collect()
    }
    assert envelope == {
        i: (f"{i:03d}", metadata(i), str(i), True) for i in range(30)
    }
    ack = spark.read.parquet(tmp_dirs["ack"])
    assert {r[0] for r in ack.select("trigger").distinct().collect()} == {"timeout"}


def test_timer_starts_at_first_buffered_message(spark, tmp_dirs):
    """The batch timer starts when the batch is created and is not
    re-armed by later arrivals (batcher_stage.ex:80-89, 240-256): one
    key fed one message per 300 ms trigger with a 1000 ms timeout must
    flush by 'timeout' while the feed is still running, not only once
    it stops. Its micro-batches run the same generated code: from the
    third on, Spark's code generator compiles nothing, and each progress
    event reports the batcher's state operator."""
    from .test_observe import await_progress

    n = 8
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=1,
    )
    src.push_messages(make_events(n), "000.jsonl")
    rec = Recorder()
    cfg = TopologyConfig(
        name="stateful-deadline",
        order_by="event_id",
        batchers={"default": BatcherConfig(batch_size=100, batch_timeout_ms=1000)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
        state_partitions=1,  # one key
        telemetry=rec,
    )
    spark.streams.addListener(rec)
    try:
        q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
        try:
            # Wait on the recorder, not by reading the ack log: a read
            # would compile code in the same JVM while batches run.
            deadline = time.time() + 240
            while time.time() < deadline:
                stops = rec.events("processor:stop")
                if sum(s.metadata["messages"] for s in stops) >= n:
                    break
                time.sleep(0.3)
            last = max(
                (s.metadata["batch_id"] for s in stops if s.metadata["messages"]),
                default=None,
            )
            assert last is not None, "drain incomplete"
            # the progress event follows the batch's ack write
            progress = await_progress(rec, "stateful-deadline-stateful", max(last, 4))
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(rec)

    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == n
    assert {r[0] for r in ack.select("trigger").distinct().collect()} == {"timeout"}
    flushed_in = {
        int(r["ack_data"]): r["batch_id"]
        for r in ack.select("ack_data", "batch_id").collect()
    }
    # Message 0 times out before the last message is even read (one
    # message per micro-batch); a timer re-armed on every arrival
    # would hold all n until the feed stops and flush them together.
    assert flushed_in[0] < flushed_in[n - 1]

    # Batches 0..n-1 each read one message. The first batch with no new
    # input plans an empty relation in place of the source scan and so
    # compiles its own classes, once; listener callbacks run
    # asynchronously, so that count can land on the event before it.
    compiles = {
        b: m["codegen_compiles"] for b, m in progress.items() if 2 <= b <= n - 2
    }
    assert compiles == dict.fromkeys(range(2, n - 1), 0), compiles
    ops = [m["state_operators"] for m in progress.values()]
    assert all(len(o) == 1 for o in ops)
    assert set(ops[-1][0]) == {
        "operator",
        "num_rows_total",
        "num_rows_updated",
        "memory_used_bytes",
        "commit_time_ms",
    }


def test_both_start_paths_write_one_layout(spark, tmp_path):
    """start() and start_stateful() run the same config into the same
    sink and DLQ layouts: the Message envelope plus the DLQ's
    dlq_disposition, with no stage-private columns. Both log the same
    (batcher, outcome) counts, leave the retry slice out of the log, and
    ack the early slice with trigger='early' and no batch size."""

    def handle_message(df):
        fail = F.col("event_type") == "error"
        df = df.withColumn(
            "status",
            F.when(fail, M.failed_status(F.lit("boom"), "proc")).otherwise(
                F.col("status")
            ),
        )
        df = M.configure_ack(
            df, M.ACK_RETRY_ON_FAILURE, when=fail & (F.col("user_id") % 2 == 0)
        )
        return M.ack_immediately(df, when=F.col("event_type") == "click")

    # 20 events: 4 errors (ids 3, 8, 13, 18), 2 of them retry-owned
    # (user_id 6 and 4), and 4 early-acked clicks.
    layouts, outcomes, early = {}, {}, {}
    for path in ("start", "start_stateful"):
        d = {k: str(tmp_path / path / k) for k in ("spool", "sink", "dlq", "ack", "ckpt")}
        src = SpoolSource(
            name="spool", path=d["spool"], schema_ddl=EVENTS_DDL,
            ack_data_column="event_id",
        )
        src.push_messages(make_events(20), "000.jsonl")
        cfg = TopologyConfig(
            name=f"layout-{path}",
            order_by="event_id",
            handle_message=handle_message,
            batchers={"default": BatcherConfig(batch_size=5, batch_timeout_ms=500)},
            sinks={"default": SinkConfig(path=d["sink"])},
            dlq=SinkConfig(path=d["dlq"]),
            ack_log=SinkConfig(path=d["ack"]),
            checkpoint_dir=d["ckpt"],
            state_partitions=2,
        )
        _drain(spark, Pipeline(cfg, src), path, d["ack"], 18)
        layouts[path] = tuple(
            set(spark.read.parquet(d[k]).columns) for k in ("sink", "dlq", "ack")
        )
        acks = spark.read.parquet(d["ack"])
        outcomes[path] = {
            (r["batcher"], r["outcome"]): r["count"]
            for r in acks.groupBy("batcher", "outcome").count().collect()
        }
        early[path] = {
            (int(r["ack_data"]), r["batch_size"])
            for r in acks.filter(F.col("trigger") == "early").collect()
        }

    sink, dlq, ack = layouts["start"]
    assert layouts["start_stateful"] == (sink, dlq, ack)
    assert dlq == sink | {"dlq_disposition"}
    assert outcomes["start"] == {("default", "ok"): 16, ("default", "failed"): 2}
    assert outcomes["start_stateful"] == outcomes["start"]
    assert early["start"] == {(i, None) for i in (1, 6, 11, 16)}
    assert early["start_stateful"] == early["start"]


def test_ack_executor_gets_retry_rows_the_ack_log_leaves_out(spark, tmp_dirs):
    """A1/A4 on start_stateful: the ack executor receives the
    on_failure=retry rows as outcome='retry' and the ack log never
    does; ok and terminal-failed rows reach both. Starting the query
    leaves the session's state-store provider as it was."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    provider_before = spark.conf.get(provider_key)

    def handle_message(df):
        fail = F.col("event_type") == "error"
        df = df.withColumn(
            "status",
            F.when(fail, M.failed_status(F.lit("boom"), "proc")).otherwise(
                F.col("status")
            ),
        )
        return M.configure_ack(
            df, M.ACK_RETRY_ON_FAILURE, when=fail & (F.col("user_id") % 2 == 0)
        )

    recorded = []

    def record(acks, batch_id):
        recorded.extend(
            (int(r["ack_data"]), r["outcome"])
            for r in acks.select("ack_data", "outcome").collect()
        )

    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    events = make_events(40)
    src.push_messages(events, "000.jsonl")
    cfg = TopologyConfig(
        name="stateful-executor",
        order_by="event_id",
        handle_message=handle_message,
        batchers={"default": BatcherConfig(batch_size=8, batch_timeout_ms=1000)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        ack_executor=record,
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    errors = [e for e in events if e["event_type"] == "error"]
    retry_ids = {e["event_id"] for e in errors if e["user_id"] % 2 == 0}
    assert retry_ids and len(retry_ids) < len(errors)
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
    try:
        assert spark.conf.get(provider_key) == provider_before
        assert _wait_for_acks(spark, tmp_dirs["ack"], 40 - len(retry_ids))
        time.sleep(2)  # settle: no further acks may appear
    finally:
        q.stop()

    ack = spark.read.parquet(tmp_dirs["ack"])
    logged = {(int(r[0]), r[1]) for r in ack.select("ack_data", "outcome").collect()}
    want = {
        (e["event_id"], "failed" if e["event_type"] == "error" else "ok")
        for e in events
        if e["event_id"] not in retry_ids
    }
    assert ack.count() == len(want)
    assert logged == want
    assert sorted(recorded) == sorted(want | {(i, "retry") for i in retry_ids})
    assert spark.conf.get(provider_key) == provider_before


def test_both_start_paths_run_handle_batch_alike(spark, tmp_path):
    """Both start paths call handle_batch once per batch and give its
    failures the same handling (batch_processor_stage.ex:52-127): the
    same sink ids, DLQ (id, reason) rows and (batcher, outcome, reason)
    ack counts, with handle_failed rewriting the reasons of the rows
    the hook fails and of the rows routed to an unknown batcher. On
    start_stateful each hook call holds exactly one batch the stateful
    stage emitted: one trigger, as many rows as its batch size, and no
    message in two calls."""

    def recording(calls_dir):
        """A handle_batch that fails the multiples of 7 and records
        each call's messages, triggers and batch sizes in
        ``calls_dir``, one file per call."""

        def handle_batch(name, pdf):
            import json
            import uuid

            record = {
                "ids": sorted(a["ack_data"] for a in pdf["ack"]),
                "triggers": sorted(set(pdf["trigger_"])),
                "sizes": sorted({int(n) for n in pdf["batch_size_"]}),
            }
            with open(f"{calls_dir}/{uuid.uuid4().hex}.json", "w") as fh:
                json.dump(record, fh)
            status = [
                {"ok": False, "reason": "rejected", "stage": "batch"}
                if i % 7 == 0
                else s
                for i, s in zip(pdf["event_id"], pdf["status"])
            ]
            return pdf.assign(status=status)

        return handle_batch

    def handle_failed(pdf):
        status = [
            {"ok": s["ok"], "reason": f"handled:{s['reason']}", "stage": s["stage"]}
            for s in pdf["status"]
        ]
        return pdf.assign(status=status)

    # 40 events: ids ending in 9 route to an unknown batcher (4 rows),
    # the hook fails the multiples of 7 (6 rows), 30 stay ok.
    sink_ids, dlq_rows, outcomes, calls = {}, {}, {}, {}
    for path in ("start", "start_stateful"):
        d = {
            k: str(tmp_path / path / k)
            for k in ("spool", "sink", "dlq", "ack", "ckpt", "calls")
        }
        os.makedirs(d["calls"])
        src = SpoolSource(
            name="spool", path=d["spool"], schema_ddl=EVENTS_DDL,
            ack_data_column="event_id",
        )
        src.push_messages(make_events(40), "000.jsonl")
        cfg = TopologyConfig(
            name=f"hooks-{path}",
            order_by="event_id",
            route_by=F.when(F.col("event_id") % 10 == 9, F.lit("nowhere")),
            handle_batch=recording(d["calls"]),
            handle_failed=handle_failed,
            batchers={"default": BatcherConfig(batch_size=5, batch_timeout_ms=500)},
            sinks={"default": SinkConfig(path=d["sink"])},
            dlq=SinkConfig(path=d["dlq"]),
            ack_log=SinkConfig(path=d["ack"]),
            checkpoint_dir=d["ckpt"],
            state_partitions=2,
        )
        _drain(spark, Pipeline(cfg, src), path, d["ack"], 40)
        sink_ids[path] = sorted(
            r[0] for r in spark.read.parquet(d["sink"]).select("event_id").collect()
        )
        dlq_rows[path] = sorted(
            tuple(r)
            for r in spark.read.parquet(d["dlq"])
            .select("event_id", "status.reason")
            .collect()
        )
        outcomes[path] = {
            (r["batcher"], r["outcome"], r["reason"]): r["count"]
            for r in spark.read.parquet(d["ack"])
            .groupBy("batcher", "outcome", "reason")
            .count()
            .collect()
        }
        calls[path] = [
            json.loads(open(os.path.join(d["calls"], f)).read())
            for f in os.listdir(d["calls"])
        ]

    rejected = list(range(0, 40, 7))
    unrouted = [9, 19, 29, 39]
    assert sink_ids["start"] == sorted(set(range(40)) - set(rejected) - set(unrouted))
    assert sink_ids["start_stateful"] == sink_ids["start"]
    assert dlq_rows["start"] == sorted(
        [(i, "handled:rejected") for i in rejected]
        + [(i, "handled:unknown batcher: nowhere") for i in unrouted]
    )
    assert dlq_rows["start_stateful"] == dlq_rows["start"]
    assert outcomes["start"] == {
        ("default", "ok", None): 30,
        ("default", "failed", "handled:rejected"): 6,
        ("invalid", "failed", "handled:unknown batcher: nowhere"): 4,
    }
    assert outcomes["start_stateful"] == outcomes["start"]

    stateful = calls["start_stateful"]
    seen = [i for c in stateful for i in c["ids"]]
    assert len(seen) == len(set(seen)) == 36
    assert all(len(c["triggers"]) == 1 for c in stateful), stateful
    assert all(c["sizes"] == [len(c["ids"])] for c in stateful), stateful


def test_consumer_mode_acks_in_place_on_both_paths(spark, tmp_path):
    """With no batchers the processor is terminal (topology.ex:
    277-281): both start paths run no batcher and ack every message in
    place, with no trigger and no batch size."""
    acks = {}
    for path in ("start", "start_stateful"):
        d = {k: str(tmp_path / path / k) for k in ("spool", "sink", "ack", "ckpt")}
        src = SpoolSource(
            name="spool", path=d["spool"], schema_ddl=EVENTS_DDL,
            ack_data_column="event_id",
        )
        src.push_messages(make_events(20), "000.jsonl")
        cfg = TopologyConfig(
            name=f"consumer-{path}",
            order_by="event_id",
            sinks={"default": SinkConfig(path=d["sink"])},
            ack_log=SinkConfig(path=d["ack"]),
            checkpoint_dir=d["ckpt"],
        )
        _drain(spark, Pipeline(cfg, src), path, d["ack"], 20)
        acks[path] = sorted(
            (int(r["ack_data"]), r["outcome"], r["trigger"], r["batch_size"])
            for r in spark.read.parquet(d["ack"]).collect()
        )
    assert acks["start"] == [(i, "ok", None, None) for i in range(20)]
    assert acks["start_stateful"] == acks["start"]


def test_start_stateful_runs_handle_failed_before_the_dlq(spark, tmp_dirs):
    """start_stateful runs the router's failed branch: the DLQ and the
    failed acks carry the reason handle_failed wrote."""

    def handle_message(df):
        return df.withColumn(
            "status",
            F.when(
                F.col("event_type") == "error",
                M.failed_status(F.lit("boom"), "proc"),
            ).otherwise(F.col("status")),
        )

    def handle_failed(pdf):
        status = [
            {"ok": s["ok"], "reason": f"handled:{s['reason']}", "stage": s["stage"]}
            for s in pdf["status"]
        ]
        return pdf.assign(status=status)

    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    src.push_messages(make_events(20), "000.jsonl")
    cfg = TopologyConfig(
        name="stateful-handle-failed",
        order_by="event_id",
        handle_message=handle_message,
        handle_failed=handle_failed,
        batchers={"default": BatcherConfig(batch_size=5, batch_timeout_ms=500)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        dlq=SinkConfig(path=tmp_dirs["dlq"]),
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
    try:
        assert _wait_for_acks(spark, tmp_dirs["ack"], 20), "drain incomplete"
    finally:
        q.stop()

    dlq = spark.read.parquet(tmp_dirs["dlq"])
    assert dlq.count() == 4
    assert {r[0] for r in dlq.select("status.reason").collect()} == {"handled:boom"}
    failed = spark.read.parquet(tmp_dirs["ack"]).filter(F.col("outcome") == "failed")
    assert {r[0] for r in failed.select("reason").collect()} == {"handled:boom"}


def test_stop_mid_micro_batch_then_restart_acks_each_message_once(
    spark, tmp_dirs
):
    """Stopping the query while a trigger is active is a clean stop
    (no query exception), and a restart on the same checkpoint acks
    every message exactly once."""
    src = SpoolSource(
        name="spool",
        path=tmp_dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
        allowed_per_trigger=50,
    )
    src.push_messages(make_events(200), "000.jsonl")
    cfg = TopologyConfig(
        name="stop-mid-batch",
        order_by="event_id",
        batchers={"default": BatcherConfig(batch_size=50, batch_timeout_ms=500)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
    )
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="200 milliseconds")
    try:
        assert _wait_for_acks(spark, tmp_dirs["ack"], 1), "no batch committed"
        deadline = time.time() + 120
        while not (q.status["isTriggerActive"] and q.status["isDataAvailable"]):
            assert time.time() < deadline, "no active trigger"
            time.sleep(0.01)
        time.sleep(0.3)  # into the micro-batch's sink and ack writes
    finally:
        q.stop()
    assert q.exception() is None

    q = Pipeline(cfg, src).start_stateful(spark, processing_time="200 milliseconds")
    try:
        assert _wait_for_acks(spark, tmp_dirs["ack"], 200), "drain incomplete"
    finally:
        q.stop()
    ack = spark.read.parquet(tmp_dirs["ack"])
    assert ack.count() == 200
    assert ack.select("ack_data").distinct().count() == 200


def test_interrupted_sink_write_reads_as_a_stop_to_spark(spark):
    """The error a stop-interrupted foreachBatch hands Spark is short,
    and Spark's own classifier (``StreamExecution``'s PROXY_ERROR
    match) takes it for a stop."""
    import traceback

    from py4j.protocol import Py4JJavaError

    from broadway_spark.streaming.router import BatchInterrupted, stop_safe

    jvm = spark._jvm

    def interrupted_write(batch_df, batch_id):
        raise Py4JJavaError(
            "An error occurred while calling o1.save.\n",
            jvm.java.lang.RuntimeException(jvm.java.lang.InterruptedException()),
        )

    def failing_write(batch_df, batch_id):
        raise Py4JJavaError(
            "An error occurred while calling o1.save.\n",
            jvm.java.lang.IllegalStateException("boom"),
        )

    with pytest.raises(Py4JJavaError):
        stop_safe(failing_write)(None, 0)
    try:
        stop_safe(interrupted_write)(None, 0)
    except BatchInterrupted:
        text = traceback.format_exc()
    assert len(text) < 2000
    proxy_error = jvm.py4j.Py4JException(
        "An exception was raised by the Python Proxy. Return Message: " + text
    )
    stream_execution = jvm.org.apache.spark.sql.execution.streaming.runtime.StreamExecution
    assert stream_execution.isInterruptionException(
        proxy_error, spark.sparkContext._jsc.sc()
    )
