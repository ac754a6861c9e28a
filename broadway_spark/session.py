"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob is chosen so the same
plan survives a 1000-executor cluster: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), adaptive broadcast
thresholds, Arrow for every Python exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of worker threads for local mode; the driver benches with
# SPARK_GRAFT_CPUS.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


# Well-known locations where a pure-Python ``google.protobuf`` runtime
# ships with other system tooling. Probed only when the package is not
# installed normally: we add the directory to sys.path (and PYTHONPATH
# so Spark's Python workers inherit it) rather than copying any code.
_PROTOBUF_FALLBACK_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def enable_tws_compat() -> str | None:
    """Make ``google.protobuf`` importable if at all possible.

    Returns the fallback path used, or None (either protobuf already
    imports, or no fallback exists). When a fallback runtime is one
    minor version behind PySpark's generated code, protobuf's own
    escape hatch (``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``) is
    set — the wire format is unchanged across a minor release, and
    this is loudly recorded here rather than silently monkey-patched.

    Must run before the SparkSession (JVM) starts so executor Python
    workers inherit PYTHONPATH; ``builder`` calls it. The
    transformWithState operators (``streaming/stateful_dedup.py``,
    ``quality_gate.py``, ``stream_anti_join.py``) need it.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return None
    except ImportError:
        pass
    import sys

    for p in _PROTOBUF_FALLBACK_PATHS:
        if os.path.isdir(os.path.join(p, "google", "protobuf")):
            if p not in sys.path:
                sys.path.insert(0, p)
            try:
                from google.protobuf import descriptor  # noqa: F401
            except ImportError:
                sys.path.remove(p)
                continue
            os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
            existing = os.environ.get("PYTHONPATH", "")
            if p not in existing.split(os.pathsep):
                os.environ["PYTHONPATH"] = (
                    p + (os.pathsep + existing if existing else "")
                )
            return p
    return None


def builder(app_name: str = "broadway-spark", cpus: str | int | None = None):
    """Return a SparkSession.Builder with the engine's standard config.

    The settings mirror what we would ship as cluster defaults:

    - AQE enabled: coalesces post-shuffle partitions and splits skewed
      join partitions at runtime — at 100 TB the static
      ``shuffle.partitions`` is never right for every stage.
    - Arrow enabled for pandas UDF exchange; batches capped so one
      Arrow batch fits comfortably in executor memory.
    - ``maxPartitionBytes`` kept at 128m so a 100 TB scan fans out to
      ~800k input splits rather than a few giant ones.
    - Python workers start from ``broadway_spark._worker_daemon``
      instead of ``pyspark.daemon``. Before every task a worker calls
      ``importlib.invalidate_caches()``, which on CPython 3.11/3.12
      re-parses all of ``pyspark.zip``'s directory once per zip
      importer, about 0.2 s of CPU per task; the daemon entry makes a
      zip importer re-read only an archive that changed, then runs
      ``pyspark.daemon`` unchanged. It is a no-op on CPython >= 3.13,
      which reads zip directories lazily. Python workers must be able
      to import ``broadway_spark``, as they already must for
      ``SpoolDataSource`` and the pipelines' UDFs.
    """
    n = cpus if cpus is not None else _DEFAULT_CPUS
    # transformWithState needs google.protobuf in every Python worker;
    # if it's only available via a system fallback path this must land
    # in PYTHONPATH before the JVM starts (workers inherit it).
    enable_tws_compat()
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "broadway_spark._worker_daemon")
        # Codegen class cache: the default 100 entries thrashes on a
        # 100+-query workload (each query compiles several stages), so
        # every resubmission pays full Janino recompilation — measured
        # ~7 s/pass vs ~0.7 s warm on the widest expression trees.
        # Sized for the whole suite; a long-lived cluster session
        # serving many queries wants exactly the same headroom.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return b


def get_spark(app_name: str = "broadway-spark", cpus: str | int | None = None) -> SparkSession:
    """Get or create the engine SparkSession."""
    return builder(app_name, cpus).getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
