"""Pipeline — compile and run a Broadway-style topology on Structured
Streaming.

The reference builds a supervision tree of GenStage processes
(``lib/broadway/topology.ex:47-76``); we build ONE streaming query:

    source.read_stream() → transformer → envelope-normalize →
    handle_message (status capture) → route_by/batch_key annotation →
    [partition_by repartition] → writeStream.foreachBatch(router)

Front half is declarative DataFrame work (Catalyst prunes/pushes down
through it); the router (``streaming/router.py``) is the batcher +
batch-processor + ack back half. The checkpoint replaces per-message
acknowledgement for source progress (SURVEY §1.2: ack ≈ offset commit);
the ack-log sink replaces ``CallerAcknowledger`` messages.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from broadway_spark import message as M
from broadway_spark.config import ConfigError, TopologyConfig
from broadway_spark.observe import span
from broadway_spark.operators.partitioning import (
    partition_by_label,
    resolve_partition_expr,
)
from broadway_spark.streaming.router import (
    _early_acks,
    _failed_acks,
    _late_acks,
    _write,
    _write_acks,
    _write_dlq,
    build_router,
    stop_safe,
)
from broadway_spark.streaming.stateful_batcher import stateful_batch_stream


def all_running(spark: SparkSession) -> list[str]:
    """Names of every active pipeline query in this session — the
    analogue of ``Broadway.all_running/0`` (broadway.ex:1257-1276,
    backed by the config-storage registry; ours is the session's
    StreamingQueryManager)."""
    return sorted(q.name for q in spark.streams.active if q.name)


def producer_names(pipeline: "Pipeline") -> list[str]:
    """The pipeline's producer (source) names — the analogue of
    ``Broadway.producer_names/1`` (broadway.ex:1184-1205). One source
    per pipeline in this engine; returned as a list for API parity."""
    return [pipeline.source.name]


class Pipeline:
    """A validated topology bound to a source.

    ``source`` must provide ``read_stream(spark) -> DataFrame`` (raw
    rows), ``name``, and ``ack_data_column`` (the column carried into
    ``ack.ack_data`` as the per-message identity).
    """

    def __init__(self, config: TopologyConfig, source) -> None:
        self.config = config.validate()
        self.source = source

    # -- front half ---------------------------------------------------

    def build_stream(self, spark: SparkSession) -> DataFrame:
        cfg = self.config
        df = self.source.read_stream(spark)
        if cfg.transformer is not None:
            df = cfg.transformer(df)
        df = M.normalize(
            df,
            source_name=self.source.name,
            ack_ref=f"{self.source.name}#{cfg.name}",
            ack_data=F.col(self.source.ack_data_column).cast("string"),
        )
        if cfg.handle_message is not None:
            df = cfg.handle_message(df)
        if cfg.route_by is not None:
            valid = list(cfg.batchers)
            routed = F.coalesce(cfg.route_by, F.lit(M.DEFAULT_BATCHER))
            ok_route = routed.isin(valid)
            # Unknown batcher → failure channel, mirroring the raise at
            # processor_stage.ex:213-220 but as data, not a crash. Rows
            # already failed keep their original status (first failure
            # wins).
            df = df.withColumn(
                "batcher", F.when(ok_route, routed).otherwise(F.lit("invalid"))
            ).withColumn(
                "status",
                F.when(ok_route | ~F.col("status.ok"), F.col("status")).otherwise(
                    M.failed_status(
                        F.concat(F.lit("unknown batcher: "), routed), "router"
                    )
                ),
            )
        if cfg.batch_key_by is not None:
            df = df.withColumn("batch_key", cfg.batch_key_by.cast("string"))
        if cfg.partition_by is not None:
            # No count: the shuffle runs at the query's width,
            # state_partitions, which _start_query pins.
            df = df.repartition(resolve_partition_expr(cfg.partition_by, df))
        return df

    # -- introspection (L4: Broadway.topology/1, broadway.ex:1184-1276)

    def topology(self) -> dict:
        """Describe the compiled topology — producer, processor, and
        batcher layers with the settings the start paths run."""
        cfg = self.config
        return {
            "name": cfg.name,
            "producers": [
                {"name": self.source.name, "kind": type(self.source).__name__}
            ],
            "processors": [
                {
                    "partition_by": partition_by_label(cfg.partition_by),
                    "state_partitions": cfg.state_partitions,
                }
            ],
            "batchers": [
                {
                    "name": n,
                    "batch_size": b.batch_size,
                    "batch_timeout_ms": b.batch_timeout_ms,
                    "sink": cfg.sinks[n].path if n in cfg.sinks else None,
                }
                for n, b in cfg.batchers.items()
            ],
        }

    # -- run ----------------------------------------------------------

    def _emit_topology_init(self) -> None:
        """topology:init span (broadway.ex:656-662) — dispatched when
        the pipeline topology is initialized, config in metadata."""
        rec = self.config.telemetry
        if rec is not None:
            rec.emit(
                "topology:init",
                {"system_time": time.time()},
                {"config": self.topology()},
            )

    def _start_query(
        self, spark: SparkSession, writer: DataStreamWriter
    ) -> StreamingQuery:
        """Start ``writer`` with ``spark.sql.shuffle.partitions`` pinned
        to ``state_partitions``, then restore the session value.

        The query clones the session conf when it starts, and its
        checkpoint records the width at the first batch. Every shuffle
        in the query runs at that width: the router's chunk windows and
        ``handle_batch`` pass read it from ``batch_df.sparkSession``,
        and the stateful batcher shards its state store by it.
        """
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)  # effective value
        spark.conf.set(key, str(self.config.state_partitions))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, prev)

    def start(
        self,
        spark: SparkSession,
        trigger: str = "availableNow",
        processing_time: str | None = None,
    ) -> StreamingQuery:
        """Run the stateless router: one streaming query whose
        foreachBatch chunks, runs ``handle_batch``/``handle_failed``,
        and writes the sinks, DLQ and ack log per micro-batch.

        Every shuffle in the query runs at ``state_partitions``
        partitions. A fresh checkpoint records that width at its first
        batch; a restart from an existing checkpoint keeps the recorded
        width whatever the config says now.
        """
        cfg = self.config
        if cfg.checkpoint_dir is None:
            raise ConfigError("checkpoint_dir is required to start a pipeline")
        self._emit_topology_init()
        stream = self.build_stream(spark)
        writer = stream.writeStream.foreachBatch(build_router(cfg)).option(
            "checkpointLocation", cfg.checkpoint_dir
        )
        if trigger == "availableNow":
            writer = writer.trigger(availableNow=True)
        elif trigger == "processingTime":
            writer = writer.trigger(processingTime=processing_time or "0 seconds")
        else:
            raise ConfigError(f"unknown trigger {trigger!r}")
        return self._start_query(spark, writer.queryName(cfg.name))

    def start_stateful(
        self,
        spark: SparkSession,
        processing_time: str = "500 milliseconds",
    ) -> StreamingQuery:
        """Run with the *stateful* batcher: cross-micro-batch buffers +
        per-key timeout timers (``streaming/stateful_batcher.py``,
        ``applyInPandasWithState``) — the faithful B2/B3 semantics.
        Requires integer batch sizes, and no ``handle_batch`` or
        ``handle_failed`` hook: this path does not call them.

        The stateful stage does the chunking; foreachBatch only fans
        chunks out to sinks, then writes the DLQ and the acks with the
        router's own helpers, so both paths write one layout. A
        checkpoint from before the ``(buffer, deadline_ms)`` state
        schema cannot be resumed.
        """
        cfg = self.config
        if cfg.checkpoint_dir is None:
            raise ConfigError("checkpoint_dir is required to start a pipeline")
        self._emit_topology_init()
        for name, b in cfg.batchers.items():
            if not isinstance(b.batch_size, int):
                raise ConfigError(
                    f"stateful batching requires integer batch_size "
                    f"(batcher {name!r})"
                )
        for hook in ("handle_batch", "handle_failed"):
            if getattr(cfg, hook) is not None:
                raise ConfigError(
                    f"stateful batching does not call {hook}; unset it or "
                    f"use start()"
                )

        stream = self.build_stream(spark)
        batched = stateful_batch_stream(
            stream,
            batch_sizes={n: b.batch_size for n, b in cfg.batchers.items()},
            batch_timeouts_ms={
                n: b.batch_timeout_ms for n, b in cfg.batchers.items()
            },
            order_by=cfg.order_by,
        )

        def sink_writer(batch_df: DataFrame, batch_id: int) -> None:
            rec = cfg.telemetry
            batch_df = batch_df.persist()
            try:
                ok = batch_df.filter(F.col("status.ok"))
                failed = batch_df.filter(~F.col("status.ok"))
                if rec is not None:
                    # processor-stage span on the stateful path: the
                    # upstream stages execute inside this first
                    # materialization of the persisted batch.
                    with rec.span(
                        "processor", topology_name=cfg.name, batch_id=batch_id
                    ) as meta:
                        meta.update(
                            batch_df.agg(
                                F.count(F.lit(1)).alias("messages"),
                                F.count_if(~F.col("status.ok")).alias("failed"),
                            )
                            .first()
                            .asDict()
                        )
                for name, sink in cfg.sinks.items():
                    with span(
                        rec,
                        "batch_processor",
                        topology_name=cfg.name,
                        batcher_key=name,
                        batch_id=batch_id,
                    ):
                        _write(
                            ok.filter(F.col("batcher") == name).drop(
                                "trigger_", "batch_size_"
                            ),
                            sink.path,
                            sink.format,
                            batch_id,
                            sink.idempotent,
                        )
                _write_dlq(cfg, failed.drop("trigger_", "batch_size_"), batch_id)
                trigger = F.col("trigger_")
                _write_acks(
                    cfg,
                    _early_acks(ok, batch_id)
                    + [_late_acks(ok, batch_id, trigger)]
                    + _failed_acks(cfg, failed, batch_id, trigger),
                    batch_id,
                )
            finally:
                batch_df.unpersist()

        return self._start_query(
            spark,
            batched.writeStream.foreachBatch(stop_safe(sink_writer))
            .option("checkpointLocation", cfg.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .queryName(f"{cfg.name}-stateful"),
        )

    def run_to_completion(self, spark: SparkSession, timeout_s: int = 300) -> None:
        """Drain everything currently available, then stop — the
        graceful-drain analogue (``terminator.ex:41-59``): every
        in-flight message is processed and acked before return."""
        q = self.start(spark, trigger="availableNow")
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
