"""Cloud Pub/Sub-shaped source — the ack-deadline / lease-renewal
connector family (SURVEY §2.1 S6, §2.5 A1/A6).

Broadway's third official connector family is Cloud Pub/Sub
(``guides/examples/google-cloud-pubsub.md``): deliveries carry an
**ack_id** under an **ack deadline** lease, acknowledgement must land
before the lease expires, the lease is renewable while work is in
flight (``modifyAckDeadline`` — every Pub/Sub client runs a renewal
daemon), and nack is ``modifyAckDeadline(0)``. That completes the
engine's ack taxonomy:

========================  =====================  =========================
family                    ack                    redelivery
========================  =====================  =========================
Kafka / spool             offset commit          offset replay
SQS                       per-message delete     visibility timeout expiry
Pub/Sub (this module)     ack_id before          ack-deadline expiry;
                          deadline; renewable    nack = deadline→0
========================  =====================  =========================

The claim protocol is the shared one (``sources/claims.py``); the
lease is the difference:

- **pull**: the driver leases up to ``max_per_trigger`` messages per
  trigger in ``latestOffset`` — handles only (id, ack_id,
  delivery_attempt, publish_time).
- **lease renewal**: every trigger, before pulling, ``latestOffset``
  renews the lease of all still-uncommitted deliveries the driver holds
  (driver-side, because that is where the claim inventory lives; there
  is no separate renewal thread). A micro-batch that outlives the ack
  deadline therefore does NOT get its messages redelivered out from
  under it.
- **ack = acknowledge(ack_id)**: ``make_ack_executor()`` issues batched
  acknowledges from ``foreachPartition``. Failed-but-acked messages are
  acknowledged too (Broadway's default ack-on-failure); rows with
  ack_policy='retry' are **nack'd** (deadline→0) for immediate
  redelivery.
- **restart**: un-acked leases from the dead reader expire on their own
  and redeliver.
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
from broadway_spark.sources.pubsub_fake import FakePubSubSubscription

PUBSUB_FORMAT = "broadway_pubsub"

# Metadata columns appended after the user's body schema.
PUBSUB_META_DDL = (
    "ps_message_id long, ps_ack_id string, ps_delivery_attempt int, "
    "ps_publish_time double"
)


class _PubSubStreamReader(ClaimStreamReader):
    broker = FakePubSubSubscription
    meta_ddl = PUBSUB_META_DDL
    claim_keys = ("id", "ack_id", "delivery_attempt", "publish_time")

    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self.ack_deadline_s = float(options.get("ack_deadline_s", 30.0))

    def _receive(self, sub: FakePubSubSubscription) -> list[dict]:
        # Lease renewal: everything still stashed is in flight —
        # committed seqs were dropped in commit(), so renewing the rest
        # keeps long micro-batches from losing their leases mid-work.
        inflight = [c[1] for claims in self._stash.values() for c in claims]
        if inflight:
            sub.modify_ack_deadline(inflight, self.ack_deadline_s)
        return sub.pull(
            self.max_per_trigger, self.ack_deadline_s, with_bodies=False
        )


class PubSubDataSource(ClaimDataSource):
    format_name = PUBSUB_FORMAT
    stream_reader_cls = _PubSubStreamReader


def register_pubsub_source(spark: SparkSession) -> None:
    spark.dataSource.register(PubSubDataSource)


@dataclass
class PubSubSource(ClaimSource):
    """Pipeline-facing handle. ``ack_data`` is the ack_id, so the ack
    executor acknowledges exactly the delivery it processed (stale
    ack_ids from superseded deliveries are no-ops, as in Pub/Sub).

    ``on_failure`` mirrors the reference connector's acknowledger
    options (broadway_cloud_pub_sub ``on_failure: :ack | :nack |
    :noop``): what to do with *terminal* failures — ``'ack'``
    (default; matches the router's ack-on-failure contract), ``'nack'``
    (immediate redelivery), or ``'noop'`` (let the lease expire).
    Rows with ack_policy='retry' are always nack'd.
    """

    name: str
    path: str
    schema_ddl: str  # body fields; ps_* metadata columns are appended
    ack_data_column: str = "ps_ack_id"
    max_per_trigger: int = 1000
    ack_deadline_s: float = 30.0
    num_partitions: int = 4
    on_failure: str = "ack"

    data_source = PubSubDataSource
    stream_options = ("max_per_trigger", "ack_deadline_s", "num_partitions")

    def make_ack_executor(self):
        """The bulk-ack hook for TopologyConfig.ack_executor:

        - outcome ok → acknowledge
        - outcome failed → per ``on_failure``: acknowledge / nack / noop
        - outcome retry → nack (modifyAckDeadline 0): immediate
          redelivery instead of waiting out the ack deadline
        """
        path = self.path
        on_failure = self.on_failure
        if on_failure not in ("ack", "nack", "noop"):
            raise ValueError(f"on_failure must be ack|nack|noop, got {on_failure!r}")

        def settle(pending):
            ack_ids, nacks = [], []
            for ack_id, outcome in pending:
                if outcome == "retry" or (
                    outcome == "failed" and on_failure == "nack"
                ):
                    nacks.append(ack_id)
                elif outcome != "failed" or on_failure == "ack":
                    ack_ids.append(ack_id)
                # failed + noop: let the lease expire
            sub = FakePubSubSubscription(path)
            sub.acknowledge(ack_ids)
            sub.modify_ack_deadline(nacks, 0)

        return claim_ack_executor(self.name, settle)

    # -- test/ops conveniences ---------------------------------------

    def publish_messages(self, records: list[dict]) -> list[int]:
        return self._broker().publish(
            [json.loads(json.dumps(r)) for r in records]
        )
