"""File-backed RabbitMQ-semantics test double (AMQP 0-9-1 consumer
surface).

The reference's fourth official connector family is RabbitMQ
(``guides/examples/rabbitmq.md``), whose ack model is channel-scoped
and distinct from offset commit, delete-as-ack, and ack-deadline
leases:

- the broker **pushes** deliveries to a consumer over a *channel*;
  ``prefetch_count`` caps the number of unacknowledged deliveries a
  channel may hold — the connector's documented back-pressure knob
  (the guide's "Tuning the configuration" section);
- every delivery carries a channel-scoped, monotonically increasing
  ``delivery_tag``; redeliveries of a requeued message set the
  ``redelivered`` flag;
- ``basic.ack(tag, multiple)`` acknowledges one tag, or — with
  ``multiple=True`` — every outstanding tag ≤ ``tag`` (cumulative
  ack, the bulk-ack shape unique to this family);
- ``basic.nack(tag, requeue)`` either returns the message to the
  ready queue (``requeue=True``, broadway_rabbitmq's
  ``on_failure: :reject_and_requeue``) or drops it to the
  dead-letter exchange (``requeue=False``, ``:reject``);
- closing a channel (connection drop, consumer crash) requeues every
  unacked delivery it held — Rabbit's built-in crash redelivery.

No broker in this environment, so this double implements exactly those
semantics on a locked JSON state file (the shared
``claims.BrokerDouble``); the Spark-facing connector is
``sources/rabbit.py``.
"""

from __future__ import annotations

from broadway_spark.sources.claims import BrokerDouble


class FakeRabbitQueue(BrokerDouble):
    STATE = "rabbit.json"
    LOCK = "_rabbit.lock"
    EMPTY = {"messages": [], "next_id": 0, "channels": {}}

    # -- publisher side -----------------------------------------------

    def publish(self, bodies: list[dict]) -> list[int]:
        return self._enqueue(
            bodies,
            state="ready",  # ready | unacked | acked | dead
            redelivered=False,
            channel=None,
            delivery_tag=None,
        )

    # -- channel lifecycle --------------------------------------------

    def open_channel(self, channel_id: str, prefetch_count: int) -> None:
        """Open (or reopen) a consumer channel with ``basic.qos``
        prefetch. Reopening an existing channel id first closes it —
        requeueing its unacked deliveries, exactly what a dropped
        connection does."""
        with self._locked() as st:
            if channel_id in st["channels"]:
                self._requeue_channel(st, channel_id)
            st["channels"][channel_id] = {
                "next_tag": 1,
                "prefetch": int(prefetch_count),
                "unacked": {},  # delivery_tag (str) -> message id
            }
            self._save(st)

    def close_channel(self, channel_id: str) -> int:
        """Close the channel; every unacked delivery requeues
        (``redelivered`` will be set on next delivery). Returns the
        number requeued."""
        with self._locked() as st:
            n = self._requeue_channel(st, channel_id)
            st["channels"].pop(channel_id, None)
            self._save(st)
            return n

    @staticmethod
    def _requeue_channel(st: dict, channel_id: str) -> int:
        ch = st["channels"].get(channel_id)
        if not ch:
            return 0
        ids = set(ch["unacked"].values())
        n = 0
        for m in st["messages"]:
            if m["id"] in ids and m["state"] == "unacked":
                m["state"] = "ready"
                m["redelivered"] = True
                m["channel"] = None
                m["delivery_tag"] = None
                n += 1
        ch["unacked"] = {}
        return n

    # -- consumer side ------------------------------------------------

    def deliver(
        self, channel_id: str, max_n: int, with_bodies: bool = True
    ) -> list[dict]:
        """Push up to ``min(max_n, prefetch - unacked)`` ready messages
        to the channel — the prefetch window IS the admission cap; a
        channel sitting on ``prefetch_count`` unacked deliveries
        receives nothing until it acks (the documented back-pressure
        contract)."""
        with self._locked() as st:
            ch = st["channels"].get(channel_id)
            if ch is None:
                raise ValueError(f"channel not open: {channel_id}")
            budget = min(max_n, ch["prefetch"] - len(ch["unacked"]))
            out = []
            for m in st["messages"]:
                if len(out) >= budget:
                    break
                if m["state"] != "ready":
                    continue
                tag = ch["next_tag"]
                ch["next_tag"] = tag + 1
                m["state"] = "unacked"
                m["channel"] = channel_id
                m["delivery_tag"] = tag
                ch["unacked"][str(tag)] = m["id"]
                d = {
                    "id": m["id"],
                    "delivery_tag": tag,
                    "redelivered": m["redelivered"],
                }
                if with_bodies:
                    d["body"] = dict(m["body"])
                out.append(d)
            if out:
                self._save(st)
            return out

    def basic_ack(
        self, channel_id: str, delivery_tag: int, multiple: bool = False
    ) -> int:
        """``basic.ack``: settle one delivery, or with ``multiple``
        every outstanding tag ≤ ``delivery_tag`` (cumulative — the
        family's native bulk ack). Unknown/stale tags are ignored, as
        the broker ignores already-settled tags."""
        return self._settle(channel_id, delivery_tag, multiple, "acked")

    def basic_nack(
        self,
        channel_id: str,
        delivery_tag: int,
        requeue: bool,
        multiple: bool = False,
    ) -> int:
        """``basic.nack``: requeue (→ ready, redelivered flag) or drop
        to the dead-letter store (→ dead)."""
        target = "ready" if requeue else "dead"
        return self._settle(channel_id, delivery_tag, multiple, target)

    def _settle(
        self, channel_id: str, delivery_tag: int, multiple: bool, target: str
    ) -> int:
        with self._locked() as st:
            ch = st["channels"].get(channel_id)
            if ch is None:
                return 0
            if multiple:
                tags = [t for t in ch["unacked"] if int(t) <= delivery_tag]
            else:
                tags = [str(delivery_tag)] if str(delivery_tag) in ch["unacked"] else []
            ids = {ch["unacked"][t] for t in tags}
            n = 0
            for m in st["messages"]:
                if m["id"] in ids and m["state"] == "unacked":
                    m["state"] = target
                    if target == "ready":
                        m["redelivered"] = True
                    m["channel"] = None
                    m["delivery_tag"] = None
                    n += 1
            for t in tags:
                del ch["unacked"][t]
            if n:
                self._save(st)
            return n

    # -- observability ------------------------------------------------

    def counts(self) -> dict:
        st = self._load()
        c = {"ready": 0, "unacked": 0, "acked": 0, "dead": 0}
        for m in st["messages"]:
            c[m["state"]] += 1
        return c
