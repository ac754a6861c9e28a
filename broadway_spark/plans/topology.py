"""Pipeline — compile and run a Broadway-style topology on Structured
Streaming.

The reference builds a supervision tree of GenStage processes
(``lib/broadway/topology.ex:47-76``); we build ONE streaming query:

    source.read_stream() → transformer → envelope-normalize →
    handle_message (status capture) → route_by/batch_key annotation →
    [partition_by repartition] → [stateful batcher] →
    writeStream.foreachBatch(router)

Front half is declarative DataFrame work (Catalyst prunes/pushes down
through it); the router (``streaming/router.py``) is the batcher +
batch-processor + ack back half on both start paths. The checkpoint
replaces per-message acknowledgement for source progress (SURVEY §1.2:
ack ≈ offset commit); the ack-log sink replaces ``CallerAcknowledger``
messages.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from broadway_spark import message as M
from broadway_spark.config import ConfigError, TopologyConfig
from broadway_spark.operators.partitioning import (
    partition_by_label,
    resolve_partition_expr,
)
from broadway_spark.streaming.router import build_router
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
            # state_partitions, which _start pins.
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

    def _start(
        self,
        spark: SparkSession,
        name: str,
        stage: Callable[[DataFrame], DataFrame] | None = None,
        **trigger,
    ) -> StreamingQuery:
        """Start the query both start paths run: the front half, then
        ``stage`` if given, then the router as its foreachBatch.

        ``spark.sql.shuffle.partitions`` is pinned to
        ``state_partitions`` while the query starts, then the session
        value is restored. The query clones the session conf when it
        starts, and its checkpoint records the width at the first
        batch. Every shuffle in the query runs at that width: the
        router's chunk windows and ``handle_batch`` pass read it from
        ``batch_df.sparkSession``, and the stateful batcher shards its
        state store by it.
        """
        cfg = self.config
        if cfg.checkpoint_dir is None:
            raise ConfigError("checkpoint_dir is required to start a pipeline")
        self._emit_topology_init()
        stream = self.build_stream(spark)
        if stage is not None:
            stream = stage(stream)
        writer = (
            stream.writeStream.foreachBatch(build_router(cfg))
            .option("checkpointLocation", cfg.checkpoint_dir)
            .trigger(**trigger)
            .queryName(name)
        )
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)  # effective value
        spark.conf.set(key, str(cfg.state_partitions))
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
        if trigger == "availableNow":
            return self._start(spark, self.config.name, availableNow=True)
        if trigger == "processingTime":
            return self._start(
                spark,
                self.config.name,
                processingTime=processing_time or "0 seconds",
            )
        raise ConfigError(f"unknown trigger {trigger!r}")

    def start_stateful(
        self,
        spark: SparkSession,
        processing_time: str = "500 milliseconds",
    ) -> StreamingQuery:
        """Run with the *stateful* batcher: cross-micro-batch buffers +
        per-key timeout timers (``streaming/stateful_batcher.py``,
        ``applyInPandasWithState``) — the faithful B2/B3 semantics.

        The stateful stage cuts the ok rows into batches and labels
        each with its ``chunk_id``, ``trigger_`` and ``batch_size_``;
        its output then runs through the same router as ``start()``,
        which does not re-cut and runs ``handle_batch`` once per
        emitted batch. With no batchers (consumer mode) there is no
        stage and the router acks in place, as on ``start()``. So the
        hooks, the DLQ, the sinks, the ack log and the spans are the
        same on both paths; only the batch timer differs. Requires
        integer batch sizes. A checkpoint from before the
        ``(buffer, deadline_ms)`` state schema cannot be resumed.
        """
        cfg = self.config
        for name, b in cfg.batchers.items():
            if not isinstance(b.batch_size, int):
                raise ConfigError(
                    f"stateful batching requires integer batch_size "
                    f"(batcher {name!r})"
                )

        def stage(stream: DataFrame) -> DataFrame:
            return stateful_batch_stream(
                stream,
                batch_sizes={n: b.batch_size for n, b in cfg.batchers.items()},
                batch_timeouts_ms={
                    n: b.batch_timeout_ms for n, b in cfg.batchers.items()
                },
                order_by=cfg.order_by,
            )

        return self._start(
            spark,
            f"{cfg.name}-stateful",
            stage if cfg.batchers else None,
            processingTime=processing_time,
        )

    def run_to_completion(self, spark: SparkSession, timeout_s: int = 300) -> None:
        """Drain everything currently available, then stop — the
        graceful-drain analogue (``terminator.ex:41-59``): every
        in-flight message is processed and acked before return. A
        drain still running after ``timeout_s`` is stopped and raises
        ``TimeoutError``: its acks are partial."""
        q = self.start(spark, trigger="availableNow")
        try:
            done = q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
        if not done:
            raise TimeoutError(
                f"pipeline {self.config.name!r} did not drain in {timeout_s} s"
            )
