"""RabbitMQ-shaped source — the channel / nack-requeue connector
family (SURVEY §2.1 S6, §2.5 A1/A6), completing the reference's four
official connector families (``guides/examples/rabbitmq.md``).

Ack taxonomy, now fully carried:

=========================  ======================  ======================
family                     ack                     redelivery
=========================  ======================  ======================
Kafka / spool              offset commit           offset replay
SQS                        per-message delete      visibility expiry
Pub/Sub                    ack_id before a         lease expiry;
                           renewable deadline      nack = deadline→0
RabbitMQ (this module)     basic.ack by            basic.nack
                           channel-scoped          requeue=True, or
                           delivery_tag            channel close
                           (``multiple`` =         (requeue=False →
                           cumulative bulk ack)    dead-letter store)
=========================  ======================  ======================

What is structurally different here:

- **Back-pressure is the broker's prefetch window, not a driver
  counter**: ``basic.qos(prefetch_count)`` caps unacked deliveries per
  channel, so ``latestOffset`` simply asks the broker to deliver — a
  saturated channel receives nothing until acks drain it. This is the
  reference connector's documented flow-control stance (the
  ":prefetch_count" tuning section of the guide).
- **Crash redelivery is channel death**: the reader (re)opens its
  channel on its first trigger, which requeues any unacked deliveries a
  dead predecessor held — no timeout to wait out.
- **Terminal failure routing is a broker feature**: ``on_failure:
  'reject'`` nacks without requeue, landing the message in the
  broker's dead-letter store (the DLX pattern) rather than an
  engine-side sink.

The driver/executor split is the shared claim protocol
(``sources/claims.py``): the driver stashes claims only (id,
delivery_tag, redelivered); payloads are fetched in ``read()`` on the
executors; the bulk-ack executor settles tags from ``foreachPartition``.
Per executor partition the acks are issued as one cumulative
``basic.ack(multiple=True)`` for the contiguous tag prefix plus singles
for the rest — the family's native bulk-ack shape. ``stop()`` closes the
reader's channel, so a stopped pipeline's unsettled deliveries requeue
at once for whichever channel consumes next.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import SparkSession

from broadway_spark.sources.claims import (
    ClaimDataSource,
    ClaimSource,
    ClaimStreamReader,
    _parse_pos_int,
    claim_ack_executor,
)
from broadway_spark.sources.rabbit_fake import FakeRabbitQueue

RABBIT_FORMAT = "broadway_rabbit"

# Metadata columns appended after the user's body schema.
RABBIT_META_DDL = (
    "rmq_message_id long, rmq_delivery_tag long, rmq_redelivered boolean"
)


class _RabbitStreamReader(ClaimStreamReader):
    broker = FakeRabbitQueue
    meta_ddl = RABBIT_META_DDL
    claim_keys = ("id", "delivery_tag", "redelivered")

    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self.channel_id = options.get("channel_id", "bw-consumer")
        # AMQP reads prefetch_count=0 as "unlimited"; the double would
        # read it as a window of 0 and never deliver — reject it.
        self.prefetch_count = _parse_pos_int(
            options.get("prefetch_count", 50), "prefetch_count"
        )
        self._channel_open = False

    def _receive(self, q: FakeRabbitQueue) -> list[dict]:
        if not self._channel_open:
            # (Re)opening requeues a dead predecessor's unacked
            # deliveries — Rabbit's crash-redelivery semantics.
            q.open_channel(self.channel_id, self.prefetch_count)
            self._channel_open = True
        return q.deliver(
            self.channel_id, self.max_per_trigger, with_bodies=False
        )

    def stop(self) -> None:
        # Closing the channel requeues its unacked deliveries, so a
        # restart under a different channel_id still receives them.
        if self._channel_open:
            FakeRabbitQueue(self.path).close_channel(self.channel_id)
            self._channel_open = False


class RabbitDataSource(ClaimDataSource):
    format_name = RABBIT_FORMAT
    stream_reader_cls = _RabbitStreamReader


def register_rabbit_source(spark: SparkSession) -> None:
    spark.dataSource.register(RabbitDataSource)


@dataclass
class RabbitSource(ClaimSource):
    """Pipeline-facing handle. ``ack_data`` is the delivery_tag (as a
    string), settled against the reader's channel by the ack executor.

    ``on_failure`` mirrors broadway_rabbitmq's acknowledger options:
    what to do with *terminal* failures — ``'reject_and_requeue'``
    (redeliver; at-least-once, may loop a poison message),
    ``'reject'`` (no requeue → broker dead-letter store, the DLX
    pattern), or ``'ack'`` (settle as if successful; matches the
    router's ack-on-failure default elsewhere). Rows with
    ack_policy='retry' are always reject_and_requeue'd.
    """

    name: str
    path: str
    schema_ddl: str  # body fields; rmq_* metadata columns are appended
    ack_data_column: str = "rmq_delivery_tag"
    channel_id: str = "bw-consumer"
    max_per_trigger: int = 1000
    prefetch_count: int = 50
    num_partitions: int = 4
    on_failure: str = "reject"

    data_source = RabbitDataSource
    stream_options = (
        "channel_id",
        "max_per_trigger",
        "prefetch_count",
        "num_partitions",
    )

    def make_ack_executor(self):
        """The bulk-ack hook, batched per executor partition:

        - outcome ok → basic.ack; the partition's contiguous prefix of
          outstanding tags is settled with ONE cumulative
          ``multiple=True`` ack, remaining tags individually
        - outcome failed → per ``on_failure``: ack /
          reject (nack, no requeue → dead-letter) /
          reject_and_requeue
        - outcome retry → reject_and_requeue (immediate redelivery
          with the redelivered flag set)
        """
        path = self.path
        channel_id = self.channel_id
        on_failure = self.on_failure
        if on_failure not in ("ack", "reject", "reject_and_requeue"):
            raise ValueError(
                "on_failure must be ack|reject|reject_and_requeue, "
                f"got {on_failure!r}"
            )

        def settle(pending):
            ack_tags, requeues, rejects = [], [], []
            for ack_data, outcome in pending:
                tag = int(ack_data)
                if outcome == "retry":
                    requeues.append(tag)
                elif outcome == "failed":
                    if on_failure == "ack":
                        ack_tags.append(tag)
                    elif on_failure == "reject":
                        rejects.append(tag)
                    else:
                        requeues.append(tag)
                else:
                    ack_tags.append(tag)
            q = FakeRabbitQueue(path)
            if ack_tags:
                # A cumulative ack settles ALL tags <= N on the channel,
                # including other partitions' — only safe when this
                # partition provably owns the full range, i.e. its
                # contiguous run starts at tag 1. Everything else acks
                # individually.
                ack_tags.sort()
                run_end = 0
                while (
                    run_end + 1 < len(ack_tags)
                    and ack_tags[run_end + 1] == ack_tags[run_end] + 1
                ):
                    run_end += 1
                if ack_tags[0] == 1 and run_end > 0:
                    q.basic_ack(channel_id, ack_tags[run_end], multiple=True)
                    ack_tags = ack_tags[run_end + 1 :]
                for t in ack_tags:
                    q.basic_ack(channel_id, t)
            for t in requeues:
                q.basic_nack(channel_id, t, requeue=True)
            for t in rejects:
                q.basic_nack(channel_id, t, requeue=False)

        return claim_ack_executor(self.name, settle)

    # -- test/ops conveniences ---------------------------------------

    def publish_messages(self, records: list[dict]) -> list[int]:
        return self._broker().publish(
            [json.loads(json.dumps(r)) for r in records]
        )
