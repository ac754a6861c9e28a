"""Kill-mid-batch restart chaos for the three claim-based connector
families — at-least-once proven per family, not just happy path
(round-4 verdict item 9, mirroring tests/test_flow_control.py's
no-dup/no-loss restart check):

- SQS: the dead reader's claims become VISIBLE again once the
  visibility timeout runs out, and the broker redelivers them with a
  bumped delivery count (guides/examples/amazon-sqs.md).
- Pub/Sub: the dead reader's un-acked LEASES EXPIRE on their own and
  the broker redelivers to the restarted pipeline (ack-deadline
  semantics, guides/examples/google-cloud-pubsub.md).
- RabbitMQ: the restarted reader REOPENS THE CHANNEL, which requeues
  every unacked delivery of the dead channel (basic.nack-on-close
  semantics, guides/examples/rabbitmq.md).

The kill is DETERMINISTIC: phase 1 runs with an ack executor that
crashes the query on its second micro-batch BEFORE acking — exactly
the crash window of a real pipeline (claims delivered, work possibly
sunk, broker never settled). Pass = after a fresh Pipeline on the same
checkpoint + broker, every published message is (a) acked at the
broker exactly once (broker state, not log counting), (b) present in
the sink — no loss — and (c) the sink proves real REdelivery
(attempt ≥ 2 / redelivered=True rows). Duplicates in the sink are
permitted and bounded: the at-least-once window."""

import time

from pyspark.sql import functions as F

from broadway_spark.config import SinkConfig, TopologyConfig
from broadway_spark.plans import Pipeline
from broadway_spark.sources.pubsub import PubSubSource
from broadway_spark.sources.rabbit import RabbitSource
from broadway_spark.sources.sqs import SQSSource

BODY_DDL = "event_id long, event_type string, value double"

N = 80


def _events(n):
    types = ["view", "click", "purchase", "error", "signup"]
    return [
        {"event_id": i, "event_type": types[i % 5], "value": round(i / 4.0, 2)}
        for i in range(n)
    ]


def _wait(pred, timeout_s=120):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            if pred():
                return True
        except Exception:
            pass
        time.sleep(0.5)
    return False


def _cfg(name, dirs, src, ack_executor=None):
    return TopologyConfig(
        name=name,
        order_by="event_id",
        sinks={"default": SinkConfig(path=dirs["sink"])},
        ack_log=SinkConfig(path=dirs["ack"]),
        ack_executor=ack_executor or src.make_ack_executor(),
        checkpoint_dir=dirs["ckpt"],
    )


def _crash_on_second_batch(src):
    """Ack executor that settles micro-batch 0 normally, then CRASHES
    the query on the next non-empty batch before acking — leaving that
    batch's claims delivered-but-unsettled at the broker."""
    real = src.make_ack_executor()

    def bomb(acks, batch_id):
        if batch_id >= 1 and acks.count() > 0:
            raise RuntimeError("chaos: killed before ack")
        real(acks, batch_id)

    return bomb


def _run_phase1_crash(spark, dirs, src, name, settled_key="acked"):
    q = Pipeline(
        _cfg(name, dirs, src, ack_executor=_crash_on_second_batch(src)), src
    ).start(spark, trigger="processingTime", processing_time="200 milliseconds")
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the chaos crash — expected
    finally:
        if q.isActive:
            q.stop()
            q.awaitTermination(60)
    mid = src.counts()
    assert 0 < mid[settled_key] < N, f"crash window missed: {mid}"


def _run_phase2_drain(
    spark, dirs, src, name, timeout_s=120, settled_key="acked"
):
    q = Pipeline(_cfg(name, dirs, src), src).start(
        spark, trigger="processingTime", processing_time="200 milliseconds"
    )
    try:
        assert _wait(
            lambda: src.counts()[settled_key] >= N, timeout_s
        ), f"broker state: {src.counts()}"
    finally:
        q.stop()
        q.awaitTermination(60)


def _assert_no_loss(spark, dirs, src, acked_key="acked"):
    counts = src.counts()
    assert counts[acked_key] == N, f"not fully drained: {counts}"
    out = spark.read.parquet(dirs["sink"])
    ids = {r["event_id"] for r in out.select("event_id").collect()}
    assert ids == set(range(N)), (
        f"lost messages: {sorted(set(range(N)) - ids)[:10]}"
    )
    dup = out.count() - len(ids)
    # dups are legal (at-least-once) but bounded by one replayed batch
    assert dup <= N, f"runaway duplication: {dup}"


def test_sqs_kill_mid_stream_visibility_expiry_redelivers(
    spark, tmp_dirs, tmp_path
):
    src = SQSSource(
        name="sqs-chaos",
        path=str(tmp_path / "q"),
        schema_ddl=BODY_DDL,
        max_per_trigger=15,
        visibility_timeout_s=2.0,  # short: dead-reader claims reappear fast
    )
    src.send_messages(_events(N))

    # Phase 1: the crash leaves batch 1's claims received-but-undeleted.
    _run_phase1_crash(
        spark, tmp_dirs, src, "sqs-chaos", settled_key="deleted"
    )

    # The dead reader's claims must turn visible on their own.
    time.sleep(2.5)
    assert src.counts()["inflight"] == 0

    # Phase 2: fresh Pipeline, same checkpoint + queue.
    _run_phase2_drain(
        spark, tmp_dirs, src, "sqs-chaos", settled_key="deleted"
    )
    _assert_no_loss(spark, tmp_dirs, src, acked_key="deleted")

    # redelivery actually happened: some sink row carries count >= 2
    out = spark.read.parquet(tmp_dirs["sink"])
    assert (
        out.filter(F.col("sqs_delivery_count") >= 2).count() > 0
    ), "kill-restart produced no redeliveries — test lost its teeth"


def test_pubsub_kill_mid_stream_lease_expiry_redelivers(
    spark, tmp_dirs, tmp_path
):
    src = PubSubSource(
        name="ps-chaos",
        path=str(tmp_path / "sub"),
        schema_ddl=BODY_DDL,
        max_per_trigger=15,
        ack_deadline_s=2.0,  # short: dead-reader leases expire fast
    )
    src.publish_messages(_events(N))

    # Phase 1: the crash leaves batch 1's claims leased-but-unacked.
    _run_phase1_crash(spark, tmp_dirs, src, "ps-chaos")

    # The dead reader's leases must expire on their own.
    time.sleep(2.5)
    assert src.counts()["leased"] == 0

    # Phase 2: fresh Pipeline, same checkpoint + subscription.
    _run_phase2_drain(spark, tmp_dirs, src, "ps-chaos")
    _assert_no_loss(spark, tmp_dirs, src)

    # redelivery actually happened: some sink row carries attempt >= 2
    out = spark.read.parquet(tmp_dirs["sink"])
    assert (
        out.filter(F.col("ps_delivery_attempt") >= 2).count() > 0
    ), "kill-restart produced no redeliveries — test lost its teeth"


def test_rabbit_kill_mid_stream_channel_reopen_requeues(
    spark, tmp_dirs, tmp_path
):
    src = RabbitSource(
        name="rmq-chaos",
        path=str(tmp_path / "q"),
        schema_ddl=BODY_DDL,
        prefetch_count=15,
        max_per_trigger=100,
    )
    src.publish_messages(_events(N))

    # Phase 1: the crash leaves batch 1's deliveries unacked on the
    # dead channel.
    _run_phase1_crash(spark, tmp_dirs, src, "rmq-chaos")

    # Phase 2: the new reader's channel reopen requeues the dead
    # channel's unacked deliveries; no lease clock to wait out.
    _run_phase2_drain(spark, tmp_dirs, src, "rmq-chaos")
    _assert_no_loss(spark, tmp_dirs, src)

    out = spark.read.parquet(tmp_dirs["sink"])
    assert (
        out.filter(F.col("rmq_redelivered")).count() > 0
    ), "kill-restart produced no redeliveries — test lost its teeth"
