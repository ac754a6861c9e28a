"""The claim protocol shared by the SQS, Pub/Sub and RabbitMQ readers
(``sources/claims.py``): admission options that would stall a query
are rejected up front, a stopped Rabbit reader gives its unsettled
deliveries back to the broker, and the broker doubles' shared lock
loses no update under concurrent writers."""

import multiprocessing

import pytest
from pyspark.sql.types import StructType

from broadway_spark.sources.pubsub import PUBSUB_META_DDL, _PubSubStreamReader
from broadway_spark.sources.rabbit import RABBIT_META_DDL, _RabbitStreamReader
from broadway_spark.sources.rabbit_fake import FakeRabbitQueue
from broadway_spark.sources.sqs import SQS_META_DDL, _SQSStreamReader
from broadway_spark.sources.sqs_fake import FakeSQSQueue

BODY_DDL = "event_id long, event_type string, value double"


@pytest.mark.parametrize(
    "reader_cls, meta_ddl, option",
    [
        (_SQSStreamReader, SQS_META_DDL, "max_per_trigger"),
        (_PubSubStreamReader, PUBSUB_META_DDL, "max_per_trigger"),
        (_RabbitStreamReader, RABBIT_META_DDL, "max_per_trigger"),
        (_RabbitStreamReader, RABBIT_META_DDL, "prefetch_count"),
    ],
    ids=[
        "sqs-max_per_trigger",
        "pubsub-max_per_trigger",
        "rabbit-max_per_trigger",
        "rabbit-prefetch_count",
    ],
)
@pytest.mark.parametrize("value", ["0", "-3"])
def test_non_positive_admission_option_is_rejected(
    spark, tmp_path, reader_cls, meta_ddl, option, value
):
    """A budget of 0 claims nothing on every trigger, so the query
    would run forever with no rows and no error; for Rabbit's
    ``prefetch_count`` AMQP even reads 0 as "unlimited". Both must fail
    when the reader is built."""
    schema = StructType.fromDDL(BODY_DDL + ", " + meta_ddl)
    opts = {"path": str(tmp_path / "broker"), option: value}
    with pytest.raises(ValueError, match=f"{option} must be a positive integer"):
        reader_cls(schema, opts)


def test_rabbit_reader_stop_requeues_for_another_channel(spark, tmp_path):
    """``stop()`` closes the reader's channel: its unsettled deliveries
    requeue at once, so a restart under a different ``channel_id``
    receives them, flagged redelivered."""
    qpath = str(tmp_path / "q")
    q = FakeRabbitQueue(qpath)
    q.publish([{"event_id": i, "event_type": "view", "value": 0.5} for i in range(5)])
    schema = StructType.fromDDL(BODY_DDL + ", " + RABBIT_META_DDL)

    r1 = _RabbitStreamReader(schema, {"path": qpath, "channel_id": "ch-a"})
    assert r1.latestOffset() == {"seq": 1}
    assert q.counts()["unacked"] == 5
    r1.stop()
    assert q.counts() == {"ready": 5, "unacked": 0, "acked": 0, "dead": 0}

    r2 = _RabbitStreamReader(schema, {"path": qpath, "channel_id": "ch-b"})
    end = r2.latestOffset()
    assert end == {"seq": 2}
    rows = [r for p in r2.partitions({"seq": 1}, end) for r in r2.read(p)]
    assert sorted(r[0] for r in rows) == [0, 1, 2, 3, 4]
    assert all(r[5] is True for r in rows)  # rmq_redelivered


def _send_one_at_a_time(path: str, worker: int, n: int) -> None:
    q = FakeSQSQueue(path)
    for i in range(n):
        q.send_batch([{"worker": worker, "i": i}])


def test_broker_lock_loses_no_update_under_concurrent_writers(tmp_path):
    """Every write is a read-modify-write of one state file: without
    the O_EXCL lock, concurrent senders overwrite each other's
    messages and reuse ids. More writer processes than cores."""
    path = str(tmp_path / "q")
    workers, per_worker = 8, 15
    ctx = multiprocessing.get_context("spawn")
    procs = [
        ctx.Process(target=_send_one_at_a_time, args=(path, w, per_worker))
        for w in range(workers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert not any(p.is_alive() for p in procs)
    assert all(p.exitcode == 0 for p in procs)

    msgs = FakeSQSQueue(path)._load()["messages"]
    assert len(msgs) == workers * per_worker
    assert sorted(m["id"] for m in msgs) == list(range(workers * per_worker))
    assert {(m["body"]["worker"], m["body"]["i"]) for m in msgs} == {
        (w, i) for w in range(workers) for i in range(per_worker)
    }
