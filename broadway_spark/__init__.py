"""broadway_spark — a PySpark-native data ingestion / processing engine.

Re-implements the capabilities of dashbitco/broadway (an Elixir
GenStage-based pipeline framework; see /root/reference and SURVEY.md)
as an idiomatic Apache Spark engine:

- ``broadway_spark.config``     — validated topology configuration
  (mirrors the semantics of the reference's ``lib/broadway/options.ex``).
- ``broadway_spark.message``    — the Message envelope schema
  (mirrors ``lib/broadway/message.ex``).
- ``broadway_spark.plans``      — compiles a topology config into a
  Structured Streaming query (producer → processors → batchers →
  batch processors → ack), replacing the reference's supervision-tree
  topology builder (``lib/broadway/topology.ex``).
- ``broadway_spark.operators``  — batch/stream operators: failure
  diversion, size/budget batching, partition-ordered processing,
  dedup (exact / MinHash-LSH / SimHash), similarity search, text
  analysis.
- ``broadway_spark.sources``    — file-stream and custom Python data
  sources with admission control (rate limiting).
- ``broadway_spark.streaming``  — foreachBatch router, bulk ack
  executor, dead-letter sinks.
- ``broadway_spark.observe``    — telemetry: one recorder for the
  reference's span events and the queries' progress.

Everything is expressed DataFrame-first so Catalyst can optimize
(predicate pushdown, column pruning, broadcast joins, AQE); Python
only runs in Arrow-vectorized UDFs where built-ins cannot express the
semantics.
"""

from broadway_spark.session import get_spark, stop_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "__version__"]
