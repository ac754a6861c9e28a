"""The claim protocol shared by the SQS, Pub/Sub and RabbitMQ connectors.

In Broadway a connector supplies only its receive call
(``lib/broadway/producer.ex``) and its ``ack/3``
(``acknowledger.ex:63-85``); the rest of the machinery is the core's.
The three claim-based connectors here follow the same split. Each one
keeps its format name, its ``*_META_DDL``, the broker keys of its claim
tuple, its receive step and its outcome → broker-call mapping; this
module holds everything else once:

- **claims, not payloads, on the driver**: ``latestOffset`` asks the
  broker for up to ``max_per_trigger`` message *claims* (id plus the
  family's delivery handle) and stashes them under a new trigger seq;
  admission is global and exact, the demand knob of
  ``producer_stage.ex``. ``read()`` fetches the bodies broker-side on
  the executors, so the driver never becomes a payload funnel.
- **restart fast-forward**: the trigger seq is persisted broker-side
  (``reader_seq``) and a fresh reader resumes past it. Without that, a
  restarted reader's first claim would land in a seq range below the
  checkpoint: the planned batch reads nothing, ``commit`` discards the
  stash, and that whole receive round is burned — the messages only
  reappear after the broker's redelivery timeout, with an inflated
  delivery count (which against a real broker counts toward a
  redrive/DLQ policy).
- **replay reads empty**: a replayed seq range on a fresh reader has no
  stash; the broker redelivers whatever was never settled
  (at-least-once comes from the broker, not the checkpoint).
- **commit is source progress only**: it drops stashes the engine has
  durably committed. The real ack is the ack executor's job, fanned
  out from ``foreachPartition`` — executor-side, no driver collect.

``BrokerDouble`` is the shared half of the file-backed broker doubles:
a JSON state file replaced atomically, guarded by an O_EXCL spin lock
(multi-process safe: Spark executor tasks settle concurrently — fine
for a single-host test broker).
"""

from __future__ import annotations

import copy
import json
import os
import time
from contextlib import contextmanager
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType


def _parse_pos_int(raw, name: str) -> int | None:
    """Option parser mirroring the reference's ``pos_integer`` checks
    (``options.ex``): absent/None means "not set"; anything present
    must be a strictly positive integer — 0 is rejected loudly rather
    than silently meaning "unlimited" or "nothing" (the reference
    treats ``allowed_messages: 0`` as a config error, not infinity)."""
    if raw is None or raw == "":
        return None
    v = int(raw)
    if v <= 0:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return v


def field_coercers(schema: StructType) -> list:
    """JSON carries timestamps/dates as strings; the data source API
    wants real datetime objects — one coercer (or None) per field."""
    out = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        if t.startswith("timestamp"):
            out.append(
                lambda v: datetime.fromisoformat(v) if isinstance(v, str) else v
            )
        elif t == "date":
            out.append(lambda v: date.fromisoformat(v) if isinstance(v, str) else v)
        else:
            out.append(None)
    return out


class ClaimPartition(InputPartition):
    """Carries message claims — never payloads; ``read()`` fetches
    bodies broker-side on the executor."""

    def __init__(self, claims: list[tuple]):
        self.claims = claims


class ClaimStreamReader(DataSourceStreamReader):
    """Stream reader over a claim-based broker double.

    Subclasses set ``broker`` (the double's class), ``meta_ddl`` (the
    metadata columns appended after the body schema) and
    ``claim_keys`` (the broker's claim-dict keys, in ``meta_ddl``
    column order, message id first), and implement ``_receive``.
    """

    broker: type
    meta_ddl: str
    claim_keys: tuple[str, ...]

    def __init__(self, schema: StructType, options: dict):
        self.path = options["path"]
        self.max_per_trigger = _parse_pos_int(
            options.get("max_per_trigger", 1000), "max_per_trigger"
        )
        self.num_partitions = int(options.get("num_partitions", 4))
        meta_index = {
            col.split()[0]: i for i, col in enumerate(self.meta_ddl.split(","))
        }
        # (name, claim slot or None for a body field, coercer)
        self._columns = [
            (f.name, meta_index.get(f.name), co)
            for f, co in zip(schema.fields, field_coercers(schema))
        ]
        # seq -> claim tuples
        self._stash: dict[int, list[tuple]] = {}
        self._seq = 0

    def _receive(self, broker) -> list[dict]:
        """Claim up to ``max_per_trigger`` messages without bodies."""
        raise NotImplementedError

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        broker = self.broker(self.path)
        # Restart fast-forward: a fresh reader starts at 0 while the
        # checkpoint may hold a higher seq (see the module docstring).
        self._seq = max(self._seq, broker.load_reader_seq())
        claims = self._receive(broker)
        if claims:
            self._seq += 1
            broker.store_reader_seq(self._seq)
            self._stash[self._seq] = [
                tuple(m[k] for k in self.claim_keys) for m in claims
            ]
        return {"seq": self._seq}

    def partitions(self, start: dict, end: dict):
        claims: list[tuple] = []
        for seq in range(start["seq"] + 1, end["seq"] + 1):
            # A replayed range on a fresh reader has no stash: it reads
            # nothing, and the broker redelivers what was never settled.
            claims.extend(self._stash.get(seq, []))
        if not claims:
            return [ClaimPartition([])]
        n = max(1, min(self.num_partitions, len(claims)))
        step = (len(claims) + n - 1) // n
        return [
            ClaimPartition(claims[i : i + step])
            for i in range(0, len(claims), step)
        ]

    def read(self, partition: ClaimPartition):
        if not partition.claims:
            return
        bodies = self.broker(self.path).fetch_bodies(
            [c[0] for c in partition.claims]
        )
        for claim in partition.claims:
            body = bodies.get(claim[0], {})
            out = []
            for name, slot, co in self._columns:
                if slot is not None:
                    out.append(claim[slot])
                else:
                    v = body.get(name)
                    out.append(co(v) if co and v is not None else v)
            yield tuple(out)

    def commit(self, end: dict) -> None:
        # Source progress only — the real ack is the ack executor's.
        for seq in [s for s in self._stash if s <= end["seq"]]:
            del self._stash[seq]


class ClaimDataSource(DataSource):
    """One DataSource shape for the claim formats: subclasses set
    ``format_name`` and ``stream_reader_cls``."""

    format_name: str
    stream_reader_cls: type[ClaimStreamReader]

    @classmethod
    def name(cls) -> str:
        return cls.format_name

    def schema(self) -> str:
        return self.options["schema_ddl"] + ", " + self.stream_reader_cls.meta_ddl

    def streamReader(self, schema: StructType) -> ClaimStreamReader:
        return self.stream_reader_cls(schema, dict(self.options))


def claim_ack_executor(source_name: str, settle):
    """The A1 bulk-ack hook for ``TopologyConfig.ack_executor``
    (``acknowledger.ex:63-85`` — one ack call per {acknowledger,
    ack_ref} group): keeps this source's ack rows, skips rows without
    ``ack_data``, and calls ``settle([(ack_data, outcome), ...])`` once
    per non-empty executor partition."""
    prefix = source_name + "#"

    def ack_executor(acks: DataFrame, batch_id: int) -> None:
        rows = acks.filter(F.col("ack_ref").startswith(prefix)).select(
            "ack_data", "outcome"
        )

        def per_partition(it):
            pending = [(r["ack_data"], r["outcome"]) for r in it if r["ack_data"]]
            if pending:
                settle(pending)

        rows.foreachPartition(per_partition)

    return ack_executor


class BrokerDouble:
    """Shared state-file plumbing of the broker doubles. Subclasses set
    ``STATE``/``LOCK`` file names and may extend ``EMPTY``."""

    STATE: str
    LOCK: str
    EMPTY: dict = {"messages": [], "next_id": 0}

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @contextmanager
    def _locked(self, timeout_s: float = 30.0):
        """Hold the broker's O_EXCL lock; yields the loaded state (the
        caller ``_save``s what it changed)."""
        lock = os.path.join(self.path, self.LOCK)
        deadline = time.time() + timeout_s
        while True:
            try:
                os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                break
            except FileExistsError:
                if time.time() > deadline:
                    raise TimeoutError(f"broker lock stuck: {lock}")
                time.sleep(0.01)
        try:
            yield self._load()
        finally:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass

    def _load(self) -> dict:
        try:
            with open(os.path.join(self.path, self.STATE)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return copy.deepcopy(self.EMPTY)

    def _save(self, state: dict) -> None:
        tmp = os.path.join(self.path, self.STATE + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, os.path.join(self.path, self.STATE))

    def _enqueue(self, bodies: list[dict], **fields) -> list[int]:
        """Append messages with the double's initial per-message
        ``fields``; returns their ids."""
        with self._locked() as st:
            ids = []
            for body in bodies:
                mid = st["next_id"]
                st["next_id"] = mid + 1
                st["messages"].append({"id": mid, "body": body, **fields})
                ids.append(mid)
            self._save(st)
            return ids

    def fetch_bodies(self, ids: list[int]) -> dict[int, dict]:
        """Fetch payloads by message id (executor-side companion to a
        claims-only receive). Lockless: the state file is replaced
        atomically, and a claimed message's body is immutable (messages
        are flagged settled, never removed), so a plain read is
        consistent."""
        want = set(ids)
        st = self._load()
        return {m["id"]: dict(m["body"]) for m in st["messages"] if m["id"] in want}

    def load_reader_seq(self) -> int:
        """Last trigger seq any reader of this broker has emitted
        (persisted broker-side so a restarted reader resumes past the
        checkpointed offset instead of re-claiming into a seq range the
        planned batch will never read)."""
        return int(self._load().get("reader_seq", 0))

    def store_reader_seq(self, seq: int) -> None:
        with self._locked() as st:
            st["reader_seq"] = max(int(st.get("reader_seq", 0)), int(seq))
            self._save(st)


class ClaimSource:
    """Shared half of the pipeline-facing handles (dataclasses with
    ``name``, ``path`` and ``schema_ddl`` fields). Subclasses set
    ``data_source`` and ``stream_options``, the fields passed to the
    reader as options."""

    data_source: type[ClaimDataSource]
    stream_options: tuple[str, ...]

    def read_stream(self, spark: SparkSession) -> DataFrame:
        spark.dataSource.register(self.data_source)
        reader = (
            spark.readStream.format(self.data_source.format_name)
            .option("path", self.path)
            .option("schema_ddl", self.schema_ddl)
        )
        for opt in self.stream_options:
            reader = reader.option(opt, getattr(self, opt))
        return reader.load()

    def _broker(self):
        return self.data_source.stream_reader_cls.broker(self.path)

    def counts(self) -> dict:
        return self._broker().counts()
