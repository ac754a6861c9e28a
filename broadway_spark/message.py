"""The Message envelope — the engine's row schema.

Mirrors ``%Broadway.Message{}`` (reference ``lib/broadway/message.ex:45-65``)
as explicit DataFrame columns instead of a dynamic struct:

    <data columns...>                -- the payload (typed, user schema)
    metadata   MAP<STRING,STRING>    -- producer-attached (message.ex:47)
    batcher    STRING                -- routing target    (message.ex:49)
    batch_key  STRING                -- grouping key      (message.ex:50)
    batch_mode STRING                -- 'bulk' | 'flush'  (message.ex:51)
    status     STRUCT<ok BOOLEAN, reason STRING, stage STRING>
                                     -- embedded error channel (:52-56)
    ack        STRUCT<source STRING, ack_ref STRING, ack_data STRING>
                                     -- lineage to the source (:19-34)

Unlike the reference, ``data`` is not an opaque term: payload columns
stay top-level and typed so Catalyst can prune/push down through them.
The envelope columns are additive — ``normalize`` wraps any source
DataFrame without touching payload columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ack_policy values (A3/A4 in SURVEY §2.5):
#   'late'    — default: ack at the terminal stage (at-least-once)
#   'early'   — Message.ack_immediately/1 (message.ex:172-201): ack as
#               soon as processing succeeds; the terminal ack becomes a
#               no-op (at-most-once region for this row)
#   'retry'   — configure_ack on_failure=retry (acknowledger.ex:44-61):
#               a failed row is NOT acked, so the source redelivers it
#   'discard' — failed row acked as failed and dropped (DLQ only)
ACK_LATE = "late"
ACK_EARLY = "early"
ACK_RETRY_ON_FAILURE = "retry"
ACK_DISCARD_ON_FAILURE = "discard"

STATUS_TYPE = StructType(
    [
        StructField("ok", BooleanType(), False),
        StructField("reason", StringType(), True),
        StructField("stage", StringType(), True),
    ]
)

ACK_TYPE = StructType(
    [
        StructField("source", StringType(), True),
        StructField("ack_ref", StringType(), True),
        StructField("ack_data", StringType(), True),
    ]
)

METADATA_TYPE = MapType(StringType(), StringType())

DEFAULT_BATCHER = "default"  # message.ex:62
DEFAULT_BATCH_KEY = "default"  # message.ex:63
BATCH_MODE_BULK = "bulk"  # message.ex:64 (default)
BATCH_MODE_FLUSH = "flush"


def ok_status() -> Column:
    return F.struct(
        F.lit(True).alias("ok"),
        F.lit(None).cast("string").alias("reason"),
        F.lit(None).cast("string").alias("stage"),
    )


def failed_status(reason: Column | str, stage: str) -> Column:
    r = F.lit(reason) if isinstance(reason, str) else reason
    return F.struct(
        F.lit(False).alias("ok"),
        r.alias("reason"),
        F.lit(stage).alias("stage"),
    )


def normalize(
    df: DataFrame,
    source_name: str,
    ack_ref: str,
    ack_data: Column | None = None,
    metadata: dict[str, Column] | None = None,
) -> DataFrame:
    """Wrap a raw source DataFrame in the Message envelope.

    The transformer-stage analogue of building ``%Message{}`` from a raw
    event (reference ``producer_stage.ex:267-291``): every row gets the
    default batcher/batch_key/batch_mode, an ok status, and ack lineage
    back to the source.
    """
    meta = (
        F.create_map(
            *[x for k, v in (metadata or {}).items() for x in (F.lit(k), v)]
        )
        if metadata
        else F.lit(None).cast(METADATA_TYPE)
    )
    ack = F.struct(
        F.lit(source_name).alias("source"),
        F.lit(ack_ref).alias("ack_ref"),
        (ack_data if ack_data is not None else F.lit(None).cast("string")).alias(
            "ack_data"
        ),
    )
    return (
        df.withColumn("metadata", meta)
        .withColumn("batcher", F.lit(DEFAULT_BATCHER))
        .withColumn("batch_key", F.lit(DEFAULT_BATCH_KEY))
        .withColumn("batch_mode", F.lit(BATCH_MODE_BULK))
        .withColumn("status", ok_status())
        .withColumn("ack", ack)
        .withColumn("ack_policy", F.lit(ACK_LATE))
    )


def ack_immediately(df: DataFrame, when: Column | None = None) -> DataFrame:
    """Message.ack_immediately/1 (message.ex:172-201): mark rows for
    early ack; the terminal ack for them becomes a no-op."""
    cond = when if when is not None else F.lit(True)
    return df.withColumn(
        "ack_policy",
        F.when(cond, F.lit(ACK_EARLY)).otherwise(F.col("ack_policy")),
    )


def configure_ack(df: DataFrame, on_failure: str, when: Column | None = None) -> DataFrame:
    """Message.configure_ack/2 (message.ex:135-155): per-row failure
    policy — 'retry' (no ack → source redelivery) or 'discard'."""
    if on_failure not in (ACK_RETRY_ON_FAILURE, ACK_DISCARD_ON_FAILURE):
        raise ValueError(f"unknown on_failure policy: {on_failure!r}")
    cond = when if when is not None else F.lit(True)
    return df.withColumn(
        "ack_policy",
        F.when(cond, F.lit(on_failure)).otherwise(F.col("ack_policy")),
    )


def put_batcher(
    df: DataFrame, batcher: Column | str, when: Column | None = None
) -> DataFrame:
    """Message.put_batcher/2 (message.ex:94-112): route rows to a
    named batcher. The column form of the topology-level ``route_by``;
    use it inside ``handle_message`` for conditional routing.
    Validation against the configured batcher set happens at routing
    time in the plan (unknown batcher → status failure, mirroring
    processor_stage.ex:213-220)."""
    b = F.lit(batcher) if isinstance(batcher, str) else batcher
    cond = when if when is not None else F.lit(True)
    return df.withColumn(
        "batcher", F.when(cond, b).otherwise(F.col("batcher"))
    )


def put_batch_key(
    df: DataFrame, key: Column | str, when: Column | None = None
) -> DataFrame:
    """Message.put_batch_key/2 (message.ex:114-129): per-row grouping
    key for batch assembly (the column form of ``batch_key_by``)."""
    k = F.col(key) if isinstance(key, str) else key
    cond = when if when is not None else F.lit(True)
    return df.withColumn(
        "batch_key",
        F.when(cond, k.cast("string")).otherwise(F.col("batch_key")),
    )


def put_batch_mode(
    df: DataFrame, mode: str, when: Column | None = None
) -> DataFrame:
    """Message.put_batch_mode/2 (message.ex:131-144): 'bulk' (default,
    accumulate) or 'flush' (deliver everything buffered immediately).
    Rejects unknown modes like the reference's guard."""
    if mode not in (BATCH_MODE_BULK, BATCH_MODE_FLUSH):
        raise ValueError(f"unknown batch_mode: {mode!r}")
    cond = when if when is not None else F.lit(True)
    return df.withColumn(
        "batch_mode",
        F.when(cond, F.lit(mode)).otherwise(F.col("batch_mode")),
    )
