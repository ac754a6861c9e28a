"""SQS-shaped source — per-message-ack connector (SURVEY §2.1 S6,
§2.5 A1/A6).

Broadway's flagship connector is broadway_sqs
(``guides/examples/amazon-sqs.md``): a destructive-read queue where the
acknowledgement is a per-message **delete** and redelivery comes from
the broker's visibility timeout, not from offset replay. That is a
fundamentally different ack style from Kafka/spool (offset commit +
checkpoint), so the engine carries it as its own connector on the
shared claim protocol (``sources/claims.py``):

- **receive**: the driver claims up to ``max_per_trigger`` visible
  messages per trigger — handles only (id, receipt, delivery_count);
  each claimed message goes invisible for ``visibility_timeout_s``.
- **ack = delete**: ``make_ack_executor()`` issues batched deletes from
  ``foreachPartition``, exactly how a 1000-executor cluster would fan
  SQS ``DeleteMessageBatch`` calls.
- **redelivery**: rows held back from the ack (ack_policy='retry', or a
  crash before the delete ran) simply reappear after the visibility
  timeout with a higher ``sqs_delivery_count`` — at-least-once comes
  from the broker, not the checkpoint.

At scale the single-driver ``receive`` is the admission point, matching
the reference's single-node rate-limit stance (``broadway.ex:55-59``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import SparkSession

from broadway_spark.sources.claims import (
    ClaimDataSource,
    ClaimSource,
    ClaimStreamReader,
    claim_ack_executor,
)
from broadway_spark.sources.sqs_fake import FakeSQSQueue

SQS_FORMAT = "broadway_sqs"

# Metadata columns appended after the user's body schema.
SQS_META_DDL = (
    "sqs_message_id long, sqs_receipt string, sqs_delivery_count int"
)


class _SQSStreamReader(ClaimStreamReader):
    broker = FakeSQSQueue
    meta_ddl = SQS_META_DDL
    claim_keys = ("id", "receipt", "delivery_count")

    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self.visibility_timeout_s = float(
            options.get("visibility_timeout_s", 30.0)
        )

    def _receive(self, q: FakeSQSQueue) -> list[dict]:
        return q.receive(
            self.max_per_trigger, self.visibility_timeout_s, with_bodies=False
        )


class SQSDataSource(ClaimDataSource):
    format_name = SQS_FORMAT
    stream_reader_cls = _SQSStreamReader


def register_sqs_source(spark: SparkSession) -> None:
    spark.dataSource.register(SQSDataSource)


@dataclass
class SQSSource(ClaimSource):
    """Pipeline-facing handle. ``ack_data`` is the receipt handle, so
    the ack executor can delete exactly the delivery it processed
    (stale receipts from superseded deliveries are no-ops, as in SQS).
    """

    name: str
    path: str
    schema_ddl: str  # body fields; sqs_* metadata columns are appended
    ack_data_column: str = "sqs_receipt"
    max_per_trigger: int = 1000
    visibility_timeout_s: float = 30.0
    num_partitions: int = 4

    data_source = SQSDataSource
    stream_options = ("max_per_trigger", "visibility_timeout_s", "num_partitions")

    def make_ack_executor(self):
        """The bulk-ack hook for TopologyConfig.ack_executor:

        - outcome ok/failed → delete (failed-but-acked messages are
          deleted too, Broadway's default ack-on-failure)
        - outcome retry → ChangeMessageVisibility(0): immediate
          redelivery instead of waiting out the visibility timeout
          (the broadway_sqs on_failure-without-delete pattern)
        """
        path = self.path

        def settle(pending):
            q = FakeSQSQueue(path)
            q.delete_batch([r for r, outcome in pending if outcome != "retry"])
            for receipt, outcome in pending:
                if outcome == "retry":
                    q.change_visibility(receipt, 0)

        return claim_ack_executor(self.name, settle)

    # -- test/ops conveniences ---------------------------------------

    def send_messages(self, records: list[dict]) -> list[int]:
        return self._broker().send_batch(
            [json.loads(json.dumps(r)) for r in records]
        )
