"""The foreachBatch router — one micro-batch through the back half of
the pipeline.

This is the Spark translation of Broadway's batcher + batch-processor +
acknowledger stages (SURVEY §3.2 steps 4-6). Per micro-batch:

1. persist the batch (it feeds the failed branch, every batcher branch,
   and the ack log — one compute, many consumers)
2. failed rows → ``handle_failed`` hook → DLQ sink → acked as failed
   (reference ``acknowledger.ex:96-150``)
3. ok rows, per batcher: chunk per batch_key by size or weight budget
   (``batcher_stage.ex:108-221``), run ``handle_batch`` as
   ``applyInPandas`` over (batch_key, chunk) groups
   (``batch_processor_stage.ex:52-127``), write the batcher's sink
4. append the ack log — the bulk-ack analogue of
   ``acknowledger.ex:63-85``'s one-ack-call-per-source-handle, keyed by
   (batch_id, ack_ref) so at-least-once reruns are deduplicatable

Trigger labels on ack rows mirror ``BatchInfo.trigger``
(``batch_info.ex:40-41``): full chunks are 'size', the trailing partial
chunk of a micro-batch is 'timeout' (the micro-batch boundary plays the
role of the batch-timeout timer), and 'flush' when the row's
batch_mode is 'flush'.

Scale notes: the only shuffle is the per-batcher chunking window keyed
by batch_key; consumer-mode pipelines (no batchers) are shuffle-free.
Sinks receive partition-parallel writes; nothing funnels through the
driver.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce, wraps

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from broadway_spark.config import TopologyConfig
from broadway_spark.observe import span
from broadway_spark.operators.batching import (
    apply_per_batch_streamed,
    chunk_by_budget,
    chunk_by_size,
)

ACK_LOG_SCHEMA = (
    "batch_id long, ack_ref string, ack_data string, outcome string, "
    "reason string, batcher string, batch_key string, trigger string, "
    "batch_size int"
)


# The Java exceptions Spark's StreamExecution takes for "interrupted by
# stop()" (its IO_EXCEPTION_NAMES).
_INTERRUPTS = (
    "java.lang.InterruptedException",
    "java.io.InterruptedIOException",
    "java.nio.channels.ClosedByInterruptException",
)


class BatchInterrupted(Exception):
    """A foreachBatch call cut short by ``StreamingQuery.stop()``."""


def stop_safe(
    fn: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Hand Spark a one-line error when ``stop()`` interrupts ``fn``.

    The Py4J error of an interrupted write quotes the whole Java stack.
    Spark decides whether a foreachBatch error is a stop by running its
    ``PROXY_ERROR`` regex over the Python traceback, and that regex
    recurses once per character: on thousands of lines the stream
    thread dies of ``StackOverflowError``. The interrupt is re-raised
    as one line the regex still matches, so the stop stays a stop;
    every other error passes through unchanged.
    """

    @wraps(fn)
    def guarded(batch_df: DataFrame, batch_id: int) -> None:
        try:
            fn(batch_df, batch_id)
        except Py4JJavaError as e:
            cause = e.java_exception
            while cause is not None and cause.getClass().getName() not in _INTERRUPTS:
                cause = cause.getCause()
            if cause is None:
                raise
            raise BatchInterrupted(
                f"py4j.protocol.Py4JJavaError: {e.errmsg.strip()} "
                f"{cause.getClass().getName()}"
            ) from None

    return guarded


def _write(
    df: DataFrame,
    path: str,
    fmt: str,
    batch_id: int | None = None,
    idempotent: bool = False,
) -> None:
    if fmt == "noop":
        df.write.format("noop").mode("overwrite").save()
    elif idempotent and batch_id is not None:
        # Exactly-once output for deterministic batches: the replayed
        # micro-batch overwrites its own batch_id partition instead of
        # appending a duplicate (the standard foreachBatch recipe).
        df.write.format(fmt).mode("overwrite").save(
            f"{path}/batch_id={batch_id}"
        )
    else:
        df.write.format(fmt).mode("append").save(path)


def _ack_rows(
    df: DataFrame, batch_id: int, outcome: str, trigger_col=None
) -> DataFrame:
    trig = trigger_col if trigger_col is not None else F.lit(None).cast("string")
    return df.select(
        F.lit(batch_id).alias("batch_id"),
        F.col("ack.ack_ref").alias("ack_ref"),
        F.col("ack.ack_data").alias("ack_data"),
        F.lit(outcome).alias("outcome"),
        F.col("status.reason").alias("reason"),
        F.col("batcher").alias("batcher"),
        F.col("batch_key").alias("batch_key"),
        trig.alias("trigger"),
        F.col("batch_size_").alias("batch_size")
        if "batch_size_" in df.columns
        else F.lit(None).cast("int").alias("batch_size"),
    )


def _early_acks(ok: DataFrame, batch_id: int) -> list[DataFrame]:
    """A3: early-acked rows get their ack at the processor stage
    (message.ex:172-201), labelled trigger='early'."""
    if "ack_policy" not in ok.columns:
        return []
    early = ok.filter(F.col("ack_policy") == "early")
    return [_ack_rows(early, batch_id, "ok", trigger_col=F.lit("early"))]


def _late_acks(ok: DataFrame, batch_id: int, trigger_col=None) -> DataFrame:
    """Terminal 'ok' acks; early-acked rows already have theirs."""
    if "ack_policy" in ok.columns:
        ok = ok.filter(F.col("ack_policy") != "early")
    return _ack_rows(ok, batch_id, "ok", trigger_col=trigger_col)


def _failed_acks(
    config: TopologyConfig, failed: DataFrame, batch_id: int, trigger_col=None
) -> list[DataFrame]:
    """A4: failed rows with on_failure=retry are NOT acked — the
    source's redelivery owns them (A6: no built-in retries,
    broadway.ex:332-338). They reach the connector's ack executor as
    outcome='retry' (never the ack log) so per-message-ack brokers can
    fast-track redelivery (SQS ChangeMessageVisibility(0))."""
    if "ack_policy" not in failed.columns:
        return [_ack_rows(failed, batch_id, "failed", trigger_col)]
    retry = F.col("ack_policy") == "retry"
    acks = [_ack_rows(failed.filter(~retry), batch_id, "failed", trigger_col)]
    if config.ack_executor is not None:
        acks.append(_ack_rows(failed.filter(retry), batch_id, "retry", trigger_col))
    return acks


def _write_dlq(config: TopologyConfig, failed: DataFrame, batch_id: int) -> None:
    """Write failed rows to the DLQ, each tagged with its disposition so
    consumers can tell transient retry failures (the source will
    redeliver; the row may later succeed) from terminal ones. Without
    the tag, DLQ counts overstate permanent failures."""
    dlq = config.dlq
    if dlq is None:
        return
    disposition = (
        F.when(F.col("ack_policy") == "retry", F.lit("retry")).otherwise(
            F.lit("terminal")
        )
        if "ack_policy" in failed.columns
        else F.lit("terminal")
    )
    _write(
        failed.withColumn("dlq_disposition", disposition),
        dlq.path,
        dlq.format,
        batch_id,
        dlq.idempotent,
    )


def _write_acks(
    config: TopologyConfig, parts: list[DataFrame], batch_id: int
) -> None:
    """Append the ack rows in ``parts`` to the ack log and hand them to
    the ack executor.

    ``parts`` carries ``outcome='retry'`` rows only when an executor is
    set: they are executor-only signals, never acks, so the log leaves
    them out. Both start paths end each micro-batch here, with parts
    built by the helpers above.
    """
    executor = config.ack_executor
    if config.ack_log is None and executor is None:
        return
    acks = reduce(DataFrame.unionByName, parts)
    if executor is not None:
        # two consumers (log + executor): one compute
        acks = acks.persist()
    try:
        if config.ack_log is not None:
            logged = (
                acks.filter(F.col("outcome") != "retry")
                if executor is not None
                else acks
            )
            _write(
                logged,
                config.ack_log.path,
                config.ack_log.format,
                batch_id,
                config.ack_log.idempotent,
            )
        if executor is not None:
            # A1 bulk ack: the connector's one-call-per-source hook
            # (acknowledger.ex:63-85) — e.g. SQS deletes, fanned out
            # executor-side by the connector.
            executor(acks, batch_id)
    finally:
        if executor is not None:
            acks.unpersist()


def _make_batch_hook(batcher_name: str, hook, order_col: str):
    """Wrap the user's handle_batch for applyInPandas (single-arg),
    presenting rows in processing order (Broadway delivers batches in
    arrival order per key) and enforcing the all-messages contract
    (batch_processor_stage.ex:78-84)."""

    def per_batch(pdf):
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        out = hook(batcher_name, pdf)
        if len(out) != len(pdf):
            raise RuntimeError(
                "handle_batch must return exactly the messages it "
                f"received: got {len(out)}, want {len(pdf)}"
            )
        return out

    return per_batch


def _chunk(sub: DataFrame, batch_size, order_col: str) -> DataFrame:
    """Chunk one batcher's ok rows per batch_key by size or weight
    budget, annotated with each chunk's ``batch_size_`` and the
    ``trigger_`` label its acks carry."""
    if isinstance(batch_size, tuple):
        weight_col, budget = batch_size
        chunked = chunk_by_budget(sub, ["batch_key"], order_col, weight_col, budget)
        size_lit = None
    else:
        chunked = chunk_by_size(sub, ["batch_key"], order_col, batch_size)
        size_lit = batch_size
    w = Window.partitionBy("batch_key", "chunk_id")
    chunked = chunked.withColumn(
        "batch_size_", F.count(F.lit(1)).over(w).cast("int")
    )
    trigger = (
        F.when(F.col("batch_mode") == "flush", F.lit("flush"))
        .when(
            F.lit(size_lit is not None)
            & (F.col("batch_size_") == F.lit(size_lit or -1)),
            F.lit("size"),
        )
        .otherwise(F.lit("timeout"))
    )
    return chunked.withColumn("trigger_", trigger)


def build_router(
    config: TopologyConfig,
) -> Callable[[DataFrame, int], None]:
    """Compile the topology's back half into a foreachBatch function."""

    def router(batch_df: DataFrame, batch_id: int) -> None:
        rec = config.telemetry
        batch_df = batch_df.persist()
        # Span accounting (L5, broadway.ex:651-887): the processor half
        # executes inside the first materialization of the persisted
        # batch, so the one counting aggregate below IS the processor
        # span body; it also yields the per-batcher routed counts.
        # Aggregated per-message spans + exception variant follow (see
        # broadway_spark/observe.py for the vectorization contract).
        n_failed = 0
        per_batcher: dict[str, int] = {}
        if rec is not None:
            with rec.span(
                "processor", topology_name=config.name, batch_id=batch_id
            ) as meta:
                counts = (
                    batch_df.groupBy(F.col("status.ok").alias("ok"), "batcher")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                n_failed = sum(r["n"] for r in counts if r["ok"] is False)
                per_batcher = {r["batcher"]: r["n"] for r in counts if r["ok"]}
                meta["messages"] = n_failed + sum(per_batcher.values())
                meta["failed"] = n_failed
            with rec.span(
                "processor:message",
                topology_name=config.name,
                batch_id=batch_id,
                messages=meta["messages"],
            ):
                pass
            if n_failed:
                reasons = [
                    r[0]
                    for r in batch_df.filter(~F.col("status.ok"))
                    .select("status.reason")
                    .limit(3)
                    .collect()
                ]
                rec.emit(
                    "processor:message:exception",
                    {"duration": 0.0},
                    {
                        "topology_name": config.name,
                        "batch_id": batch_id,
                        "failed": n_failed,
                        "sample_reasons": reasons,
                    },
                )
        # Post-hook DataFrames are consumed twice (sink/DLQ write + ack
        # log). Broadway's contract is exactly-once hook execution per
        # batch (batch_processor_stage.ex:52-127) — persist every
        # DataFrame that carries user-hook lineage so the hook runs once
        # per micro-batch, not once per consumer.
        hook_cache: list[DataFrame] = []
        try:
            failed = batch_df.filter(~F.col("status.ok"))
            ok = batch_df.filter(F.col("status.ok"))
            ack_parts = _early_acks(ok, batch_id)

            # --- failed branch: handle_failed hook → DLQ → ack failed
            if config.handle_failed is not None:
                with span(
                    rec,
                    "handle_failed",
                    topology_name=config.name,
                    batch_id=batch_id,
                    messages=n_failed,
                ):
                    hook_failed = config.handle_failed
                    failed_schema = failed.schema

                    def _apply_failed(batches, _hook=hook_failed):
                        for pdf in batches:
                            if not len(pdf):
                                yield pdf
                                continue
                            out = _hook(pdf)
                            # All-messages contract: the reference
                            # raises if handle_failed returns a
                            # different message set than it received
                            # (acknowledger.ex:126-141 count check) —
                            # a hook that drops rows would silently
                            # lose DLQ entries and their failed-acks.
                            if out is None or len(out) != len(pdf):
                                got = 0 if out is None else len(out)
                                raise RuntimeError(
                                    "handle_failed must return exactly "
                                    "the messages it received: got "
                                    f"{got}, want {len(pdf)}"
                                )
                            yield out

                    # Arrow-batched, distributed — the hook never sees
                    # the driver (reference handle_failed runs in the
                    # stage process, acknowledger.ex:96-150; ours runs
                    # in the task).
                    failed = failed.mapInPandas(
                        _apply_failed, schema=failed_schema
                    )
                    failed = failed.persist()
                    hook_cache.append(failed)
                    if rec is not None:
                        # materialize inside the span so its duration
                        # covers the hook's actual execution
                        failed.count()
            # Retry-failed rows flow through handle_failed and the DLQ
            # like any failure (the reference runs handle_failed for
            # every failed message, acknowledger.ex:96-150); only their
            # ack differs.
            _write_dlq(config, failed, batch_id)
            ack_parts += _failed_acks(config, failed, batch_id)

            if not config.batchers:
                # Consumer mode (topology.ex:277-281): processors are
                # terminal; ack in place, optional default sink.
                sink = config.sinks.get("default")
                if sink is not None:
                    _write(ok, sink.path, sink.format, batch_id, sink.idempotent)
                ack_parts.append(_late_acks(ok, batch_id))
            else:
                order_col = config.order_by
                for name, bcfg in config.batchers.items():
                    # batcher stage = grouping/annotation; batch_processor
                    # = the sink write, where handle_batch executes.
                    with span(
                        rec,
                        "batcher",
                        topology_name=config.name,
                        batcher_key=name,
                        batch_id=batch_id,
                        messages=per_batcher.get(name, 0),
                    ):
                        chunked = _chunk(
                            ok.filter(F.col("batcher") == name),
                            bcfg.batch_size,
                            order_col,
                        )
                        if config.handle_batch is not None:
                            per_batch = _make_batch_hook(
                                name, config.handle_batch, order_col
                            )
                            # streamed runner: one Python entry per Arrow
                            # chunk instead of per (batch_key, chunk)
                            # group — at millions of keys per micro-batch
                            # the per-group dispatch tax dominates
                            # otherwise.
                            chunked = apply_per_batch_streamed(
                                chunked,
                                ["batch_key", "chunk_id"],
                                per_batch,
                                schema=chunked.schema,
                            )
                            chunked = chunked.persist()
                            hook_cache.append(chunked)

                    sink = config.sinks[name]
                    with span(
                        rec,
                        "batch_processor",
                        topology_name=config.name,
                        batcher_key=name,
                        batch_id=batch_id,
                        messages=per_batcher.get(name, 0),
                    ):
                        _write(
                            chunked.drop("chunk_id", "batch_size_", "trigger_"),
                            sink.path,
                            sink.format,
                            batch_id,
                            sink.idempotent,
                        )
                    ack_parts.append(
                        _late_acks(chunked, batch_id, F.col("trigger_"))
                    )

            _write_acks(config, ack_parts, batch_id)
        finally:
            for cached in hook_cache:
                cached.unpersist()
            batch_df.unpersist()

    return stop_safe(router)
