"""Partition routing: partition_by buckets and batcher routing.

- ``partition_bucket`` mirrors Broadway's ``partition_by`` contract
  (``lib/broadway/options.ex:306-316``): a non-negative function of the
  row modulo a concurrency, with same-bucket rows processed in order by
  one worker. In Spark the bucket column drives ``repartition(n, col)``
  (physical co-location) or ``groupBy`` (logical grouping, one task per
  group).
- ``route_by`` mirrors processor → batcher routing on the ``batcher``
  field (``lib/broadway/topology.ex:286-289``): a routing column
  computed from row values; unknown routes are rejected the way the
  reference raises on an unknown batcher
  (``processor_stage.ex:213-220``), but as a status failure, not an
  exception.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BATCHER_COL = "batcher"


def partition_bucket(expr: Column | str, num_partitions: int) -> Column:
    """``rem(f(row), concurrency)`` as a column (non-negative modulo)."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.pmod(c, F.lit(num_partitions)).cast("long")


def resolve_partition_expr(partition_by, df: DataFrame) -> Column:
    """Resolve both forms of Broadway's ``partition_by``
    (``options.ex:306-316``): the column form (a column name or
    Column), and the function form — the reference accepts an
    arbitrary Message→integer function; the Spark analogue is a
    callable ``DataFrame -> Column`` computing the key expression
    (evaluated row-wise, JVM-side — not a Python per-row UDF)."""
    if isinstance(partition_by, str):
        return F.col(partition_by)
    if isinstance(partition_by, Column):
        return partition_by
    if callable(partition_by):
        out = partition_by(df)
        if not isinstance(out, Column):
            raise TypeError(
                "function-form partition_by must return a Column, got "
                f"{type(out).__name__}"
            )
        return out
    raise TypeError(
        "partition_by must be a column name, Column, or callable "
        f"DataFrame -> Column, got {type(partition_by).__name__}"
    )


def partition_by_label(partition_by) -> str | None:
    """Introspection-friendly rendering of either partition_by form."""
    if partition_by is None or isinstance(partition_by, str):
        return partition_by
    if isinstance(partition_by, Column):
        return str(partition_by)
    return getattr(partition_by, "__name__", repr(partition_by))


def route_by(
    df: DataFrame,
    routing: Column | str,
    valid_batchers: Sequence[str] | None = None,
    default: str = "default",
) -> DataFrame:
    """Attach the ``batcher`` routing column.

    ``routing`` is an expression producing the batcher name; NULL falls
    back to ``default`` (the reference's default batcher,
    ``message.ex:62``). With ``valid_batchers``, out-of-domain routes
    become the literal 'invalid' so the caller can divert them to the
    failure channel.
    """
    c = F.col(routing) if isinstance(routing, str) else routing
    routed = F.coalesce(c, F.lit(default))
    if valid_batchers is not None:
        routed = F.when(
            routed.isin(list(valid_batchers)), routed
        ).otherwise(F.lit("invalid"))
    return df.withColumn(BATCHER_COL, routed)
