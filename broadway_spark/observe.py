"""Telemetry — one recorder for the reference's 13 :telemetry span
events (``lib/broadway.ex:651-887``) and Structured Streaming's
per-trigger query progress.

Span event names mirror the reference's `[:broadway, ...]` atoms:

    topology:init                      (broadway.ex:656-662)
    processor:start / stop             (:664-700)
    processor:message:start / stop / exception   (:702-766)
    batch_processor:start / stop       (:768-800)
    handle_failed:start / stop / exception       (:802-846)
    batcher:start / stop               (:848-882)

Semantics adaptation, documented rather than hidden: the reference
emits per-MESSAGE spans from an actor processing one message at a
time. A vectorized engine processes a micro-batch per stage, so
``processor:message:*`` spans are emitted once per micro-batch with
message COUNTS in the metadata (the per-message span payload,
aggregated); ``processor:message:exception`` fires when any row
failed, carrying the failure count and sample reasons — our
crash-containment captures user-code exceptions as failed rows
(operators/failure.py), so "an exception was raised" is exactly
"failed rows exist at the processor boundary".

Start events carry ``system_time`` (epoch seconds); stop/exception
events carry ``duration`` (seconds since the matching start) — the
:telemetry.span/3 convention.

Registered with ``spark.streams.addListener``, the same recorder also
emits ``query:start``, ``query:progress`` and ``query:stop``, each with
the query name in its metadata. ``query:progress`` carries the
micro-batch's ``batch_id``, input row count, phase durations and
``DataFrame.observe`` metrics (see ``observed``), so it joins with the
router's spans on ``batch_id``. Its measurement also holds each state
operator's row counts, memory and commit time (``state_operators``)
and ``codegen_compiles``: how many classes Spark's code generator
compiled since the previous progress event. That count is JVM-wide,
so it covers every query and job of the session (and any other
session in the same JVM), not only this micro-batch; a micro-batch
whose plan is the same as the previous one's compiles nothing, so a
steady non-zero value names a per-batch recompile.

The recorder keeps its events in memory in the process that starts
the queries, optionally mirrored to one JSONL file (one line per
event). Span accounting adds one counting aggregate per micro-batch
on the already-persisted batch DataFrame (plus a three-row reason
sample when rows failed), and nothing at all when no recorder is
configured.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener


def observed(df: DataFrame, name: str) -> DataFrame:
    """Attach engine-standard observed metrics to a stage boundary:
    message count + failure count (the start/stop span payload of
    processor_stage telemetry)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("messages"),
        F.sum(F.when(~F.col("status.ok"), 1).otherwise(0)).alias("failed"),
    )


@dataclass
class Span:
    event: str  # e.g. "processor:stop"
    measurement: dict = field(default_factory=dict)
    metadata: dict = field(default_factory=dict)


class Recorder(StreamingQueryListener):
    """Collects Broadway-taxonomy spans and query lifecycle events;
    thread-safe (foreachBatch runs concurrently with listener
    callbacks)."""

    CATALOGUE = (
        "topology:init",
        "processor:start",
        "processor:stop",
        "processor:message:start",
        "processor:message:stop",
        "processor:message:exception",
        "batch_processor:start",
        "batch_processor:stop",
        "handle_failed:start",
        "handle_failed:stop",
        "handle_failed:exception",
        "batcher:start",
        "batcher:stop",
    )

    def __init__(self, jsonl_path: str | None = None):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._jsonl_path = jsonl_path
        self._queries: dict[str, tuple[str, float]] = {}  # id → (name, t0)
        self._compiles: int | None = None  # codegen count at the last event

    def emit(self, event: str, measurement: dict, metadata: dict) -> None:
        # Copies: a caller that keeps mutating its dicts (span() yields
        # its metadata) must not rewrite a record already emitted.
        sp = Span(event, dict(measurement), dict(metadata))
        with self._lock:
            self.spans.append(sp)
            if self._jsonl_path:
                with open(self._jsonl_path, "a") as fh:
                    fh.write(
                        json.dumps(
                            {
                                "event": event,
                                **sp.measurement,
                                "metadata": sp.metadata,
                            },
                            default=str,
                        )
                        + "\n"
                    )

    @contextmanager
    def span(self, name: str, **metadata):
        """start → yield → stop; exception → `<name>:exception` span
        (re-raised). The :telemetry.span/3 shape."""
        self.emit(name + ":start", {"system_time": time.time()}, metadata)
        t0 = time.monotonic()
        try:
            yield metadata
        except Exception as e:
            self.emit(
                name + ":exception",
                {"duration": time.monotonic() - t0},
                {**metadata, "kind": "error", "reason": repr(e)},
            )
            raise
        self.emit(name + ":stop", {"duration": time.monotonic() - t0}, metadata)

    # -- StreamingQueryListener callbacks ------------------------------

    def _codegen_compiles(self) -> int | None:
        """Classes compiled by Spark's code generator since the last
        call, JVM-wide (``CodegenMetrics``); None on the first call."""
        metrics = SparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        count = metrics.METRIC_COMPILATION_TIME().getCount()
        with self._lock:
            prev, self._compiles = self._compiles, count
        return None if prev is None else count - prev

    def onQueryStarted(self, event) -> None:
        name = event.name or str(event.id)
        with self._lock:
            self._queries[str(event.id)] = (name, time.monotonic())
        self._codegen_compiles()
        self.emit("query:start", {"system_time": time.time()}, {"query": name})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.emit(
            "query:progress",
            {
                "num_input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_operators": [
                    {
                        "operator": op.operatorName,
                        "num_rows_total": op.numRowsTotal,
                        "num_rows_updated": op.numRowsUpdated,
                        "memory_used_bytes": op.memoryUsedBytes,
                        "commit_time_ms": op.commitTimeMs,
                    }
                    for op in p.stateOperators or ()
                ],
                "codegen_compiles": self._codegen_compiles(),
            },
            {
                "query": p.name or str(p.id),
                "batch_id": p.batchId,
                "observed": {
                    k: v.asDict() for k, v in (p.observedMetrics or {}).items()
                },
            },
        )

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            name, t0 = self._queries.pop(
                str(event.id), (str(event.id), time.monotonic())
            )
        self.emit(
            "query:stop",
            {"duration": time.monotonic() - t0},
            {"query": name, "exception": event.exception},
        )

    # -- queries (test/ops surface) -----------------------------------

    def events(self, event: str | None = None) -> list[Span]:
        with self._lock:
            if event is None:
                return list(self.spans)
            return [s for s in self.spans if s.event == event]

    def kinds(self) -> set[str]:
        with self._lock:
            return {s.event for s in self.spans}


def span(rec: Recorder | None, name: str, **metadata):
    """``rec.span(name, **metadata)``, or a context that only yields
    ``metadata`` when telemetry is off (``rec`` is None)."""
    return nullcontext(metadata) if rec is None else rec.span(name, **metadata)
