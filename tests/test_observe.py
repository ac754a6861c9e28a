"""L5 telemetry: one pipeline run must emit the full 13-event
Broadway telemetry catalogue (``lib/broadway.ex:651-887``) with the
:telemetry.span/3 measurement shapes (start → system_time,
stop/exception → duration), and the same recorder, registered as a
query listener, records query progress into the same event stream.
See ``broadway_spark/observe.py`` for the per-message→per-batch
vectorization contract.
"""

import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from broadway_spark import message as M
from broadway_spark.config import BatcherConfig, SinkConfig, TopologyConfig
from broadway_spark.observe import Recorder, observed
from broadway_spark.plans import Pipeline
from broadway_spark.sources import FileStreamSource, SpoolSource

from .conftest import EVENTS_DDL, make_events


def _source(dirs, n):
    src = SpoolSource(
        name="spool",
        path=dirs["spool"],
        schema_ddl=EVENTS_DDL,
        ack_data_column="event_id",
    )
    src.push_messages(make_events(n), "000.jsonl")
    return src


def _line(s):
    """The JSONL line ``Recorder`` writes for span ``s``, parsed."""
    record = {"event": s.event, **s.measurement, "metadata": s.metadata}
    return json.loads(json.dumps(record, default=str))


def await_progress(rec, query, last_batch, timeout_s=60):
    """``{batch_id: measurement}`` of ``query``'s progress events, once
    one for ``last_batch`` or later arrived (they reach listeners
    asynchronously) or ``timeout_s`` ran out."""
    deadline = time.time() + timeout_s
    while True:
        got = {
            e.metadata["batch_id"]: e.measurement
            for e in rec.events("query:progress")
            if e.metadata["query"] == query
        }
        if max(got, default=-1) >= last_batch or time.time() > deadline:
            return got
        time.sleep(0.2)


def test_full_span_catalogue_emitted(spark, tmp_dirs):
    rec = Recorder()

    def handle_message(df):
        return df.withColumn(
            "status",
            F.when(
                F.col("event_type") == "error",
                M.failed_status(F.lit("boom"), "proc"),
            ).otherwise(F.col("status")),
        )

    def handle_batch(name, pdf):
        return pdf

    def handle_failed(pdf):
        return pdf

    src = _source(tmp_dirs, n=100)
    cfg = TopologyConfig(
        name="spans",
        order_by="event_id",
        handle_message=handle_message,
        handle_batch=handle_batch,
        handle_failed=handle_failed,
        batchers={"default": BatcherConfig(batch_size=10)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        dlq=SinkConfig(path=tmp_dirs["dlq"]),
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
        telemetry=rec,
    )
    Pipeline(cfg, src).run_to_completion(spark, timeout_s=120)

    # handle_failed:exception only fires when the hook raises — that
    # path is test_handle_failed_exception_span; everything else of the
    # 13-event catalogue must appear in this single run.
    missing = set(Recorder.CATALOGUE) - rec.kinds()
    assert missing == {"handle_failed:exception"}, (
        f"span catalogue incomplete: missing {missing}"
    )

    # measurement shapes (:telemetry.span/3 convention)
    for s in rec.events():
        if s.event.endswith(":start") or s.event == "topology:init":
            assert "system_time" in s.measurement, s.event
        else:
            assert "duration" in s.measurement, s.event

    # processor span counts: 100 messages, 20 failed ('error' type)
    proc_stop = rec.events("processor:stop")[0]
    assert proc_stop.metadata["messages"] == 100
    assert proc_stop.metadata["failed"] == 20
    exc = rec.events("processor:message:exception")[0]
    assert exc.metadata["failed"] == 20
    assert exc.metadata["sample_reasons"] == ["boom", "boom", "boom"]

    # handle_failed span carries the failed-message count
    hf = rec.events("handle_failed:start")[0]
    assert hf.metadata["messages"] == 20

    # batcher/batch_processor spans carry batcher_key + routed count
    b = rec.events("batcher:start")[0]
    assert b.metadata["batcher_key"] == "default"
    assert b.metadata["messages"] == 80
    bp = rec.events("batch_processor:stop")[0]
    assert bp.metadata["batcher_key"] == "default"

    # topology:init carries the introspected config
    init = rec.events("topology:init")[0]
    assert init.metadata["config"]["name"] == "spans"


def test_handle_failed_exception_span(spark, tmp_dirs):
    """A raising handle_failed hook must emit handle_failed:exception
    (and the failure propagates — no silent swallow)."""
    rec = Recorder()

    def handle_message(df):
        return df.withColumn(
            "status", M.failed_status(F.lit("all fail"), "proc")
        )

    def handle_failed(pdf):
        raise RuntimeError("hook blew up")

    src = _source(tmp_dirs, n=10)
    cfg = TopologyConfig(
        name="spans-exc",
        order_by="event_id",
        handle_message=handle_message,
        handle_failed=handle_failed,
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        dlq=SinkConfig(path=tmp_dirs["dlq"]),
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
        telemetry=rec,
    )
    try:
        Pipeline(cfg, src).run_to_completion(spark, timeout_s=60)
    except Exception:
        pass  # the query fails; the span record is what's under test
    exc = rec.events("handle_failed:exception")
    assert exc, "handle_failed:exception span must be emitted"
    assert "hook blew up" in exc[0].metadata["reason"]


def test_stateful_path_emits_processor_and_batch_processor_spans(spark, tmp_dirs):
    """start_stateful runs the stateful batcher's output through the
    router, so its span surface is the router's: processor (+counts),
    processor:message with its exception variant, and batcher and
    batch_processor per batcher — asserted over a drained run."""
    rec = Recorder()
    src = _source(tmp_dirs, n=40)
    cfg = TopologyConfig(
        name="spans-stateful",
        order_by="event_id",
        handle_message=lambda df: df.withColumn(
            "status",
            F.when(
                F.col("event_type") == "error", M.failed_status(F.lit("boom"), "proc")
            ).otherwise(F.col("status")),
        ),
        batchers={"default": BatcherConfig(batch_size=20, batch_timeout_ms=800)},
        sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
        ack_log=SinkConfig(path=tmp_dirs["ack"]),
        checkpoint_dir=tmp_dirs["ckpt"],
        telemetry=rec,
    )
    q = Pipeline(cfg, src).start_stateful(spark, processing_time="300 milliseconds")
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(tmp_dirs["ack"]).count() >= 40:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()

    kinds = rec.kinds()
    assert "topology:init" in kinds
    assert "processor:start" in kinds and "processor:stop" in kinds
    assert "batch_processor:start" in kinds and "batch_processor:stop" in kinds
    assert "batcher:start" in kinds and "batcher:stop" in kinds
    assert "processor:message:start" in kinds and "processor:message:stop" in kinds
    assert "processor:message:exception" in kinds
    total = sum(
        s.metadata.get("messages", 0) for s in rec.events("processor:stop")
    )
    assert total >= 40


def test_emitted_records_are_snapshots(tmp_path):
    """A span's start record keeps the metadata it was emitted with:
    counts the caller sets inside the span land on the stop record
    only, and every JSONL line equals its in-memory record."""
    path = tmp_path / "spans.jsonl"
    rec = Recorder(jsonl_path=str(path))
    with rec.span("processor", topology_name="t", batch_id=0) as meta:
        meta["messages"] = 100
        meta["failed"] = 20

    start = rec.events("processor:start")[0]
    assert "messages" not in start.metadata
    assert "failed" not in start.metadata
    stop = rec.events("processor:stop")[0]
    assert (stop.metadata["messages"], stop.metadata["failed"]) == (100, 20)

    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert lines == [_line(s) for s in rec.events()]


def test_telemetry_listener_and_observe(spark, tmp_dirs):
    """L5: query lifecycle + per-batch progress events with observed
    per-stage metrics (the 13-telemetry-span analogue)."""
    tel = Recorder()
    spark.streams.addListener(tel)
    try:
        src = _source(tmp_dirs, n=80)
        cfg = TopologyConfig(
            name="ackpol",
            order_by="event_id",
            handle_message=lambda df: observed(df, "processor"),
            batchers={"default": BatcherConfig(batch_size=50)},
            sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
            dlq=SinkConfig(path=tmp_dirs["dlq"]),
            ack_log=SinkConfig(path=tmp_dirs["ack"]),
            checkpoint_dir=tmp_dirs["ckpt"],
        )
        pipe = Pipeline(cfg, src)
        pipe.run_to_completion(spark)
        deadline = time.time() + 30
        while time.time() < deadline:
            kinds = tel.kinds()
            if {"query:start", "query:progress"} <= kinds:
                break
            time.sleep(0.5)
        kinds = tel.kinds()
        assert "query:start" in kinds
        assert "query:progress" in kinds
        progress = tel.events("query:progress")
        assert any(e.measurement.get("num_input_rows", 0) > 0 for e in progress)
    finally:
        spark.streams.removeListener(tel)


def test_one_stream_joins_spans_and_progress(spark, tmp_dirs, tmp_path):
    """One recorder, registered as a listener and passed as
    ``telemetry``, writes one JSONL file in which every processor span's
    ``batch_id`` also appears on a ``query:progress`` line of the same
    query."""
    path = tmp_path / "run.jsonl"
    rec = Recorder(jsonl_path=str(path))
    spark.streams.addListener(rec)
    try:
        src = _source(tmp_dirs, n=60)
        src.push_messages(make_events(40, start=60), "001.jsonl")
        cfg = TopologyConfig(
            name="one-stream",
            order_by="event_id",
            handle_message=lambda df: observed(df, "processor"),
            batchers={"default": BatcherConfig(batch_size=10)},
            sinks={"default": SinkConfig(path=tmp_dirs["sink"])},
            ack_log=SinkConfig(path=tmp_dirs["ack"]),
            checkpoint_dir=tmp_dirs["ckpt"],
            telemetry=rec,
        )
        Pipeline(cfg, src).run_to_completion(spark, timeout_s=120)

        def read():
            return [json.loads(x) for x in path.read_text().splitlines()]

        def unjoined(lines):
            seen = {
                ln["metadata"]["batch_id"]
                for ln in lines
                if ln["event"] == "query:progress"
                and ln["metadata"]["query"] == "one-stream"
            }
            return {
                ln["metadata"]["batch_id"]
                for ln in lines
                if ln["event"] == "processor:stop"
            } - seen

        # progress events reach listeners asynchronously
        deadline = time.time() + 30
        while unjoined(read()) and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    lines = read()
    stops = [ln for ln in lines if ln["event"] == "processor:stop"]
    assert stops
    assert sum(ln["metadata"]["messages"] for ln in stops) == 100
    assert unjoined(lines) == set()
    assert {"query:start", "query:stop"} <= {ln["event"] for ln in lines}
    assert lines == [_line(s) for s in rec.events()]


def test_concurrent_emit_loses_nothing(tmp_path):
    """Listener callbacks and foreachBatch emit from different threads:
    every record lands once in memory and once in the JSONL file."""
    import sys
    import threading

    path = tmp_path / "concurrent.jsonl"
    rec = Recorder(jsonl_path=str(path))
    n_threads, per_thread = 16, 200

    def work(t):
        for i in range(per_thread):
            rec.emit("processor:stop", {"duration": 0.0}, {"t": t, "i": i})

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(t,)) for t in range(n_threads)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(th.is_alive() for th in threads)

    want = {(t, i) for t in range(n_threads) for i in range(per_thread)}
    got = [(s.metadata["t"], s.metadata["i"]) for s in rec.events()]
    assert len(got) == len(want) and set(got) == want
    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert lines == [_line(s) for s in rec.events()]


def test_steady_micro_batches_compile_no_code(spark, tmp_dirs, tmp_path):
    """Every micro-batch of ``start`` runs the same generated code: from
    the third on, Spark's code generator compiles nothing. A batch_id
    literal in the ack projection made each micro-batch compile its ack
    stages again (about 6 classes per micro-batch)."""
    inp = tmp_path / "input"
    inp.mkdir()
    for i in range(5):
        path = inp / f"part-{i}.parquet"
        pd.DataFrame(make_events(60, 60 * i)).to_parquet(path, index=False)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    def handle_message(df):
        return df.withColumn(
            "status",
            F.when(
                F.col("event_type") == "error",
                M.failed_status(F.lit("boom"), "proc"),
            ).otherwise(F.col("status")),
        )

    rec = Recorder()
    spark.streams.addListener(rec)
    try:
        cfg = TopologyConfig(
            name="codegen-steady",
            handle_message=handle_message,
            route_by=F.when(F.col("event_type") == "purchase", F.lit("billing")),
            batch_key_by=F.col("user_id"),
            order_by="event_id",
            batchers={
                "billing": BatcherConfig(batch_size=7),
                "default": BatcherConfig(batch_size=16),
            },
            sinks={
                "billing": SinkConfig(path=tmp_dirs["sink"]),
                "default": SinkConfig(path=tmp_dirs["sink2"]),
            },
            dlq=SinkConfig(path=tmp_dirs["dlq"]),
            ack_log=SinkConfig(path=tmp_dirs["ack"]),
            checkpoint_dir=tmp_dirs["ckpt"],
            handle_batch=lambda name, pdf: pdf,
            handle_failed=lambda pdf: pdf,
            telemetry=rec,
            state_partitions=2,
        )
        src = FileStreamSource("events", str(inp), EVENTS_DDL, max_files_per_trigger=1)
        Pipeline(cfg, src).run_to_completion(spark)
        progress = await_progress(rec, "codegen-steady", 4)
    finally:
        spark.streams.removeListener(rec)

    assert sorted(progress) == [0, 1, 2, 3, 4]
    assert {b: m["codegen_compiles"] for b, m in progress.items() if b >= 2} == {
        2: 0,
        3: 0,
        4: 0,
    }
    assert all(m["state_operators"] == [] for m in progress.values())
    assert spark.read.parquet(tmp_dirs["ack"]).count() == 300
