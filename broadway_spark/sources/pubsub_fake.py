"""File-backed Google Cloud Pub/Sub-semantics test double.

The reference ships an official Cloud Pub/Sub connector
(``guides/examples/google-cloud-pubsub.md``) whose ack model is the
third of Broadway's connector families, distinct from both offset
commit (Kafka/spool) and delete-as-ack with visibility timeout (SQS):

- a pull delivery hands out an **ack_id** and starts an **ack
  deadline**; the subscriber must acknowledge before it expires;
- the deadline is a *lease*: it can be extended while work is still in
  flight (``modifyAckDeadline`` — the lease-renewal daemon every
  Pub/Sub client runs), which is what lets slow consumers hold large
  batches without redelivery storms;
- **nack** is ``modifyAckDeadline(0)``: give the lease back now, the
  broker redelivers immediately;
- redeliveries bump ``delivery_attempt`` (the counter Pub/Sub exposes
  when a dead-letter policy is attached).

No GCP in this environment, so this double implements exactly those
subscription semantics on a locked JSON state file (the shared
``claims.BrokerDouble``) — it is the *broker*; the Spark-facing
connector is ``sources/pubsub.py``.

Ack-id semantics mirror Pub/Sub: each delivery issues a fresh ack_id;
acks or deadline modifications with a stale ack_id (from a superseded
delivery) are ignored.
"""

from __future__ import annotations

import time

from broadway_spark.sources.claims import BrokerDouble


class FakePubSubSubscription(BrokerDouble):
    STATE = "subscription.json"
    LOCK = "_subscription.lock"

    # -- publisher side -----------------------------------------------

    def publish(self, bodies: list[dict]) -> list[int]:
        """Publish messages to the topic; they become pullable on the
        subscription immediately. Returns message ids."""
        return self._enqueue(
            bodies,
            publish_time=time.time(),
            lease_until=0.0,
            delivery_attempt=0,
            ack_id=None,
            acked=False,
        )

    # -- subscriber side ----------------------------------------------

    def pull(
        self,
        max_n: int,
        ack_deadline_s: float,
        with_bodies: bool = True,
    ) -> list[dict]:
        """Atomically lease up to ``max_n`` available messages: each
        gets ``delivery_attempt += 1``, a fresh ack_id, and a lease
        until ``now + ack_deadline_s``.

        ``with_bodies=False`` returns deliveries without payloads — the
        scale-safe driver path; executors fetch via ``fetch_bodies``.
        """
        now = time.time()
        with self._locked() as st:
            out = []
            for m in st["messages"]:
                if len(out) >= max_n:
                    break
                if m["acked"] or m["lease_until"] > now:
                    continue
                m["delivery_attempt"] += 1
                m["lease_until"] = now + ack_deadline_s
                m["ack_id"] = f"a-{m['id']}-{m['delivery_attempt']}"
                d = {
                    "id": m["id"],
                    "ack_id": m["ack_id"],
                    "delivery_attempt": m["delivery_attempt"],
                    "publish_time": m["publish_time"],
                }
                if with_bodies:
                    d["body"] = dict(m["body"])
                out.append(d)
            if out:
                self._save(st)
            return out

    def acknowledge(self, ack_ids: list[str]) -> int:
        """Ack by *current* ack_id (stale ids from superseded
        deliveries are ignored). Returns the number acked."""
        want = {a for a in ack_ids if a}
        if not want:
            return 0
        with self._locked() as st:
            n = 0
            for m in st["messages"]:
                if not m["acked"] and m["ack_id"] in want:
                    m["acked"] = True
                    n += 1
            if n:
                self._save(st)
            return n

    def modify_ack_deadline(self, ack_ids: list[str], seconds: float) -> int:
        """``modifyAckDeadline``: extend (lease renewal) or zero (nack,
        immediate redelivery) the lease of current deliveries. Stale
        ack_ids are ignored. Returns the number modified.

        A nack (``seconds <= 0``) also invalidates the delivery's
        ack_id — the message is back in the queue and its next pull
        issues a fresh one. Without this, a holder of the old ack_id
        (e.g. the driver's lease-renewal pass over still-stashed
        claims) could silently resurrect a lease the nack just
        released."""
        want = {a for a in ack_ids if a}
        if not want:
            return 0
        now = time.time()
        with self._locked() as st:
            n = 0
            for m in st["messages"]:
                if not m["acked"] and m["ack_id"] in want:
                    m["lease_until"] = now + seconds
                    if seconds <= 0:
                        m["ack_id"] = None
                    n += 1
            if n:
                self._save(st)
            return n

    # -- observability ------------------------------------------------

    def counts(self) -> dict:
        now = time.time()
        st = self._load()
        c = {"available": 0, "leased": 0, "acked": 0}
        for m in st["messages"]:
            if m["acked"]:
                c["acked"] += 1
            elif m["lease_until"] > now:
                c["leased"] += 1
            else:
                c["available"] += 1
        return c
