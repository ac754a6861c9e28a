"""File-backed SQS-semantics test double.

The reference's flagship connector is broadway_sqs
(``guides/examples/amazon-sqs.md``): destructive-read queue, per-message
*delete* acknowledgement, and redelivery via **visibility timeout** —
a received message becomes invisible for N seconds and reappears if not
deleted in time (the reference's documented retry story: "no built-in
retries — redelivery is the producer's job", ``lib/broadway.ex:332-338``).

No AWS in this environment, so this double implements exactly those
queue semantics on a locked JSON state file (the shared
``claims.BrokerDouble``). It is the *broker*; the Spark-facing
connector is ``sources/sqs.py``. A real deployment points the same
connector surface at SQS itself.

Receipt-handle semantics mirror SQS: each delivery issues a fresh
receipt; deletes with a stale receipt (from a superseded delivery) are
ignored.
"""

from __future__ import annotations

import time

from broadway_spark.sources.claims import BrokerDouble


class FakeSQSQueue(BrokerDouble):
    STATE = "queue.json"
    LOCK = "_queue.lock"

    # -- producer side --------------------------------------------------

    def send_batch(self, bodies: list[dict]) -> list[int]:
        """Enqueue messages; returns their ids."""
        return self._enqueue(
            bodies, visible_at=0.0, delivery_count=0, receipt=None, deleted=False
        )

    # -- consumer side --------------------------------------------------

    def receive(
        self,
        max_n: int,
        visibility_timeout_s: float,
        with_bodies: bool = True,
    ) -> list[dict]:
        """Atomically claim up to ``max_n`` visible messages: each gets
        ``delivery_count += 1``, a fresh receipt, and becomes invisible
        for ``visibility_timeout_s``.

        ``with_bodies=False`` returns claims only (id, receipt,
        delivery_count) — the scale-safe driver path: payloads are
        fetched later on executors via ``fetch_bodies``.
        """
        now = time.time()
        with self._locked() as st:
            out = []
            for m in st["messages"]:
                if len(out) >= max_n:
                    break
                if m["deleted"] or m["visible_at"] > now:
                    continue
                m["delivery_count"] += 1
                m["visible_at"] = now + visibility_timeout_s
                m["receipt"] = f"r-{m['id']}-{m['delivery_count']}"
                claim = {
                    "id": m["id"],
                    "receipt": m["receipt"],
                    "delivery_count": m["delivery_count"],
                }
                if with_bodies:
                    claim["body"] = dict(m["body"])
                out.append(claim)
            if out:
                self._save(st)
            return out

    def delete_batch(self, receipts: list[str]) -> int:
        """Ack: delete messages by *current* receipt (stale receipts are
        ignored, as in SQS). Returns the number actually deleted."""
        want = set(receipts)
        if not want:
            return 0
        with self._locked() as st:
            n = 0
            for m in st["messages"]:
                if not m["deleted"] and m["receipt"] in want:
                    m["deleted"] = True
                    n += 1
            if n:
                self._save(st)
            return n

    def change_visibility(self, receipt: str, timeout_s: float) -> bool:
        """SQS ChangeMessageVisibility — e.g. 0 for immediate retry."""
        with self._locked() as st:
            for m in st["messages"]:
                if not m["deleted"] and m["receipt"] == receipt:
                    m["visible_at"] = time.time() + timeout_s
                    self._save(st)
                    return True
            return False

    def counts(self) -> dict:
        now = time.time()
        st = self._load()
        c = {"visible": 0, "inflight": 0, "deleted": 0}
        for m in st["messages"]:
            if m["deleted"]:
                c["deleted"] += 1
            elif m["visible_at"] > now:
                c["inflight"] += 1
            else:
                c["visible"] += 1
        return c
