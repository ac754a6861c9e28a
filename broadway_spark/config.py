"""Topology configuration — validated dataclasses.

Replicates the semantics of the reference's NimbleOptions schema
(``lib/broadway/options.ex``) and the extra semantic checks in
``Broadway.start_link`` (``lib/broadway.ex:1141-1182``):

- exactly one processor layer (``topology.ex:269-271``)
- batch_size > 0, or a budget splitter (the ``{init_acc, fun}`` form,
  ``options.ex:233-264``, expressed here as a (weight_column, budget)
  pair)
- one ``partition_by`` for the processor shuffle (``options.ex:306-316``)
- defaults: batch_size 100 (``options.ex:237``), batch_timeout 1000 ms
  (``options.ex:276-283``)

Only settings that a start path reads live here. Rate limiting is the
source's admission (``allowed_per_trigger`` in ``latestOffset`` plus
the trigger interval); ``max_demand`` is Arrow batch sizing; processor
and batcher concurrency is the ``state_partitions`` shuffle width.

Errors raise ``ConfigError`` with NimbleOptions-style messages so tests
can assert on them the way the reference suite does
(``test/broadway_test.exs:198-291``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame

from broadway_spark.observe import Recorder


class ConfigError(ValueError):
    """Invalid topology configuration (NimbleOptions-style)."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise ConfigError(msg)


@dataclass
class BatcherConfig:
    """One named batcher (``options.ex:200-290``).

    ``batch_size`` may be an int (size splitter) or a
    ``(weight_column, budget)`` pair — the declarative analogue of the
    reference's ``{init_acc, fun}`` custom splitter.
    """

    batch_size: int | tuple[str, float] = 100  # options.ex:237
    # options.ex:276-283. Only start_stateful reads it (per-key timers);
    # start() closes partial chunks at the micro-batch boundary as
    # trigger='timeout'.
    batch_timeout_ms: int = 1000

    def validate(self, name: str) -> None:
        bs = self.batch_size
        if isinstance(bs, tuple):
            _require(
                len(bs) == 2 and isinstance(bs[0], str) and float(bs[1]) > 0,
                f"invalid value for :batch_size option in batcher "
                f"{name!r}: expected positive integer or "
                f"(weight_column, budget) pair",
            )
        else:
            _require(
                isinstance(bs, int) and bs > 0,
                f"invalid value for :batch_size option in batcher "
                f"{name!r}: expected positive integer",
            )
        _require(
            isinstance(self.batch_timeout_ms, int) and self.batch_timeout_ms > 0,
            f"invalid value for :batch_timeout option in batcher {name!r}: "
            f"expected positive integer",
        )


@dataclass
class SinkConfig:
    """Where a batcher's (or the DLQ's) rows land.

    ``idempotent=True`` makes the write replay-safe: each micro-batch
    lands in its own ``batch_id=N`` partition directory with overwrite
    semantics, so a replayed micro-batch (crash between sink write and
    checkpoint commit — the at-least-once window of foreachBatch)
    REPLACES its previous attempt instead of appending duplicates.
    Readers scan the root path; ``batch_id`` surfaces as a partition
    column. This is the standard exactly-once-output recipe for
    deterministic batches; the default stays plain append (matching
    at-least-once acks).
    """

    path: str
    format: str = "parquet"
    idempotent: bool = False

    def validate(self, label: str) -> None:
        _require(bool(self.path), f"sink {label!r} requires a path")
        _require(
            not (self.idempotent and self.format == "noop"),
            f"sink {label!r}: idempotent mode is meaningless for noop",
        )
        _require(
            self.format in ("parquet", "json", "csv", "noop"),
            f"sink {label!r}: unsupported format {self.format!r}",
        )


@dataclass
class TopologyConfig:
    """The full pipeline definition — what ``Broadway.start_link`` takes.

    Callables operate on DataFrames (declarative, Catalyst-visible):

    - ``transformer(df)``: raw source rows → payload columns
      (producer_stage.ex:267-281)
    - ``handle_message(df)``: per-message transform; use
      ``operators.failure.with_status`` to fail rows
      (broadway.ex:949-999)
    - ``route_by``: Column producing the batcher name
      (topology.ex:286-289)
    - ``batch_key_by``: Column producing the batch key (message.ex:98-112)
    - ``handle_batch(name, pdf)``: per-materialized-batch pandas hook
      (broadway.ex:1001-1029); None = identity
    - ``handle_failed(pdf)``: dead-letter hook before acking failures
      (broadway.ex:1031-1056); None = identity
    """

    name: str
    batchers: dict[str, BatcherConfig] = field(default_factory=dict)
    sinks: dict[str, SinkConfig] = field(default_factory=dict)
    dlq: SinkConfig | None = None
    ack_log: SinkConfig | None = None
    # options.ex:306-316: hash-shuffle the processed rows on this key
    # (at state_partitions width) so equal keys co-locate and per-key
    # order survives parallelism. Column form (name or Column) or
    # function form (callable DataFrame -> Column).
    partition_by: str | Column | Callable | None = None
    checkpoint_dir: str | None = None
    transformer: Callable[[DataFrame], DataFrame] | None = None
    handle_message: Callable[[DataFrame], DataFrame] | None = None
    route_by: Column | None = None
    batch_key_by: Column | None = None
    handle_batch: Callable[[str, Any], Any] | None = None
    handle_failed: Callable[[Any], Any] | None = None
    # A1 connector bulk-ack (acknowledger.ex:63-85): called once per
    # micro-batch with the ack-row DataFrame (ACK_LOG_SCHEMA) and the
    # batch_id, AFTER sinks and the ack log. Connectors with
    # per-message acks (SQS delete) plug in here —
    # e.g. SQSSource.make_ack_executor(). None = checkpoint-only acks
    # (Kafka/spool offset commit).
    ack_executor: Callable[[DataFrame, int], None] | None = None
    # L5: a broadway_spark.observe.Recorder collecting the 13-event
    # Broadway span catalogue (broadway.ex:651-887); registered with
    # spark.streams.addListener it also records query progress into the
    # same event stream. None = no span accounting (zero overhead).
    telemetry: Recorder | None = None
    # Width of every shuffle in the pipeline's query, on both start
    # paths (Pipeline.start/run_to_completion and start_stateful): the
    # router's chunk windows and handle_batch pass, and the stateful
    # batcher's state-store shards. The checkpoint records it at the
    # first start, so a restart keeps the recorded value. Size it to the
    # executor cores and the distinct (batcher, batch_key) cardinality:
    # each Python-UDF task pays a fixed worker cost, and a vanilla
    # session's 200 is pathological for small key spaces.
    state_partitions: int = 32
    # Column giving the deterministic intra-key processing order (the
    # arrival-order stand-in; Broadway relies on mailbox order,
    # broadway.ex:524-607). Defaults to ack_data, which is only safe if
    # ack_data sorts correctly as a string — set a payload column (e.g.
    # an id or timestamp) for numeric order.
    order_by: str = "ack_data"

    def validate(self) -> "TopologyConfig":
        _require(
            isinstance(self.name, str) and self.name != "",
            "invalid value for :name option: expected non-empty string",
        )
        _require(
            self.partition_by is None
            or isinstance(self.partition_by, (str, Column))
            or callable(self.partition_by),
            "invalid value for :partition_by option: expected a column "
            "name, Column, or function (options.ex:306-316)",
        )
        _require(
            isinstance(self.state_partitions, int)
            and not isinstance(self.state_partitions, bool)
            and self.state_partitions > 0,
            "invalid value for :state_partitions option: expected "
            "positive integer",
        )
        for bname, b in self.batchers.items():
            _require(
                isinstance(bname, str) and bname != "",
                "batcher names must be non-empty strings",
            )
            b.validate(bname)
        for label, s in self.sinks.items():
            _require(
                label in self.batchers or (label == "default" and not self.batchers),
                f"sink {label!r} does not match any batcher",
            )
            s.validate(label)
        if self.batchers:
            missing = [b for b in self.batchers if b not in self.sinks]
            _require(
                not missing,
                f"batchers {missing} have no sink configured",
            )
        if self.dlq is not None:
            self.dlq.validate("dlq")
        if self.ack_log is not None:
            self.ack_log.validate("ack_log")
        _require(
            self.route_by is None or bool(self.batchers),
            ":route_by requires at least one batcher "
            "(message routed to undefined batcher)",
        )
        # Without route_by every row keeps the default batcher name; if
        # no batcher is called 'default' the per-batcher filters match
        # nothing and ok rows would be silently dropped (never written,
        # never acked) while offsets still commit. The reference raises
        # on an unknown batcher (processor_stage.ex:213-220) — so do we,
        # at validation time.
        _require(
            not self.batchers
            or self.route_by is not None
            or "default" in self.batchers,
            "batchers are configured without :route_by — a batcher named "
            "'default' is required (every message routes to :default, "
            "broadway.ex batcher-existence check)",
        )
        return self
