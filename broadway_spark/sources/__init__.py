"""Sources — producers in Broadway terms.

- ``FileStreamSource``: watched-directory file source (parquet/json) —
  the workhorse; back-pressure via maxFilesPerTrigger.
- ``SpoolSource`` (+ ``register_spool_source``): a custom Python
  ``DataSourceStreamReader`` over a JSON-lines spool directory with
  driver-side admission control — the rate-limiter / push_messages /
  commit-ack testbed, mirroring the reference's producer stage.
- ``KafkaSource``: offset-family connector (ack = checkpointed offset
  commit); ``fmt='fake_kafka'`` drives the identical projection
  against a file-backed broker honoring the Kafka record schema.
- ``SQSSource``: delete-family connector (ack = per-message DELETE,
  redelivery via visibility timeout, retry via
  ChangeMessageVisibility(0)), against a file-backed queue double
  with real visibility semantics.
- ``PubSubSource``: ack-deadline-family connector (ack = ack_id before
  a renewable deadline lease, nack = modifyAckDeadline(0), redelivery
  via lease expiry), against a file-backed subscription double.
- ``RabbitSource``: channel-family connector (ack = basic.ack by
  channel-scoped delivery_tag incl. cumulative multiple=True, nack =
  requeue or dead-letter, back-pressure = basic.qos prefetch window,
  crash redelivery = channel close), against a file-backed queue
  double.

All four of the reference's official connector families are carried
with their native ack styles: Kafka → offset commit; SQS →
delete-as-ack with visibility timeout; Google Pub/Sub → ack-deadline
lease with renewal; RabbitMQ → channel delivery_tag with
nack/requeue/DLX and prefetch flow control.

The three claim connectors (SQS, Pub/Sub, RabbitMQ) share one stream
reader, DataSource shape, ack-executor shell and broker-double state
store (``claims.py``); each supplies only its receive step and its
outcome → broker-call mapping, as a Broadway connector supplies only
its producer and ``ack/3``.
"""

from broadway_spark.sources.file_stream import FileStreamSource
from broadway_spark.sources.pubsub import PubSubSource, register_pubsub_source
from broadway_spark.sources.rabbit import RabbitSource, register_rabbit_source
from broadway_spark.sources.spool import SpoolSource, register_spool_source
from broadway_spark.sources.sqs import SQSSource, register_sqs_source

__all__ = [
    "FileStreamSource",
    "PubSubSource",
    "RabbitSource",
    "SpoolSource",
    "SQSSource",
    "register_pubsub_source",
    "register_rabbit_source",
    "register_spool_source",
    "register_sqs_source",
]
