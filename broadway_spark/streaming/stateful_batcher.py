"""Stateful batcher — cross-micro-batch batch assembly with per-key
timeout timers.

This is the faithful translation of the reference's batcher stage
(``lib/broadway/topology/batcher_stage.ex``): messages buffer per
(batcher, batch_key) *across micro-batches*; a batch is emitted when

- the buffer reaches ``batch_size``            → trigger 'size'
  (batcher_stage.ex:108-176)
- the batch's timer expires                    → trigger 'timeout'
  (batcher_stage.ex:80-89, 240-256; default 1000 ms, options.ex:276-283)
- a message arrives with batch_mode 'flush'    → trigger 'flush'
  (message.ex:118-133: flush delivers everything buffered immediately)

Implemented with ``applyInPandasWithState`` + ProcessingTimeTimeout:
one key-group = one task = serial per-key processing, which is exactly
Broadway's one-batcher-process-per-key guarantee. The stage consumes
and emits the Message envelope unchanged (``status``/``ack`` structs,
``metadata`` map), plus the router's chunk labels ``trigger_``,
``batch_size_`` and ``chunk_id``: the batch's index among those its
key emits in one call. A key gets one call per micro-batch, so
``(batcher, batch_key, chunk_id)`` names one batch and the router runs
``handle_batch`` on it as on a chunk it cut itself. Both start paths
thus write one layout and call the same hooks. Consumer mode (no
batchers) runs no stage (``topology.ex:277-281``).

State, one row per key: ``(buffer binary, deadline_ms long)``.
``buffer`` holds the buffered rows as one Arrow IPC stream in the
stage's input schema, so every envelope and payload type (maps, null
maps, structs, timestamps, dates, numeric-looking strings) round-trips
without a codec. It lives in the state store, spills with the
checkpoint, and survives restarts — at 100 TB the state store shards
across executors by the same key hash that routes the messages, so
there is no hot driver path.

Deadline rule (Broadway starts a batch's timer when the batch is
created and never re-arms it): ``deadline_ms`` is set from the
trigger's processing time when the buffer goes from empty to
non-empty, and again for the remainder after a size flush; later
arrivals do not move it. Every call arms the key's timer at the
deadline. Rows that arrive at or past the deadline are appended first,
the size chunks are cut, and the remainder then flushes as 'timeout',
so a key makes at most one timer flush per micro-batch.

Limit: a ProcessingTimeTimeout is evaluated only when a trigger runs
(Structured Streaming checks group-state timeouts once per micro-batch),
so a timed-out batch flushes at the first trigger after its deadline,
not at the deadline itself.

Failed rows pass through unbuffered (Broadway: failed messages skip
batchers, ``processor_stage.ex:78-95``).
"""

from __future__ import annotations

from itertools import count
from typing import Any, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Columns the stage adds to the envelope: the router's chunk labels.
BATCH_OUT_SUFFIX = "chunk_id long, trigger_ string, batch_size_ int"


def stateful_batch_stream(
    enveloped: DataFrame,
    batch_sizes: dict[str, int],
    batch_timeouts_ms: dict[str, int],
    order_by: str,
) -> DataFrame:
    """enveloped (streaming) → stream of batch-annotated rows.

    ``batch_sizes`` / ``batch_timeouts_ms`` are per-batcher (the group
    key's first element), mirroring per-batcher config
    (options.ex:200-290). Output = input + (chunk_id, trigger_,
    batch_size_).
    """
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in enveloped.schema
        )
        + ", "
        + BATCH_OUT_SUFFIX
    )
    # Timestamps stay naive: the UDF sees session-local wall times.
    wire = to_arrow_schema(enveloped.schema, timestamp_utc=False)

    def encode(buffer: pd.DataFrame) -> bytes:
        table = pa.Table.from_pandas(buffer, schema=wire, preserve_index=False)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, wire) as writer:
            writer.write_table(table)
        return sink.getvalue().to_pybytes()

    def decode(raw: bytes) -> pd.DataFrame:
        table = pa.ipc.open_stream(raw).read_all()
        return table.to_pandas(maps_as_pydicts="strict")

    def assemble(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunk_ids = count()

        def batch(rows: pd.DataFrame, trigger: str, size: int) -> pd.DataFrame:
            return rows.assign(
                chunk_id=next(chunk_ids), trigger_=trigger, batch_size_=size
            )

        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            # Timer fired with no new input: flush the partial batch
            # (batcher_stage.ex:80-89).
            buffer = decode(state.get[0])
            state.remove()
            yield batch(buffer, "timeout", len(buffer))
            return

        new = pd.concat(list(pdfs), ignore_index=True)
        new = new.sort_values(order_by).reset_index(drop=True)

        # Failed rows pass through immediately, never buffered. A key
        # of an unknown batcher ('invalid') carries only these.
        is_ok = new["status"].map(lambda s: s["ok"]).astype(bool)
        failed = new[~is_ok]
        if len(failed):
            yield batch(failed, "flush", len(failed))
        ok = new[is_ok]
        if not len(ok) and not state.exists:
            return
        batch_size = batch_sizes[key[0]]
        batch_timeout_ms = batch_timeouts_ms[key[0]]
        flush_all = (ok["batch_mode"] == "flush").any()
        if state.exists:
            raw, deadline = state.get
            ok = pd.concat([decode(raw), ok], ignore_index=True)
        else:
            deadline = now + batch_timeout_ms
        expired = now >= deadline

        cut = 0
        while len(ok) - cut >= batch_size:
            yield batch(ok.iloc[cut : cut + batch_size], "size", batch_size)
            cut += batch_size
        buffer = ok.iloc[cut:]
        if cut:
            # The remainder arrived in this call: its batch starts now.
            deadline = now + batch_timeout_ms
        if not len(buffer):
            state.remove()
        elif flush_all or expired:
            yield batch(buffer, "flush" if flush_all else "timeout", len(buffer))
            state.remove()
        else:
            # Persist the remainder and arm the timer at its deadline.
            state.update((encode(buffer), deadline))
            state.setTimeoutDuration(max(deadline - now, 1))

    return enveloped.groupBy("batcher", "batch_key").applyInPandasWithState(
        assemble,
        outputStructType=out_schema,
        stateStructType="buffer binary, deadline_ms long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
