"""Config-validation tests — mirroring the reference's option-validation
suite (``test/broadway_test.exs:198-291``)."""

import pytest

from broadway_spark.config import (
    BatcherConfig,
    ConfigError,
    ProcessorConfig,
    RateLimit,
    SinkConfig,
    TopologyConfig,
)


def test_name_required():
    with pytest.raises(ConfigError, match=":name"):
        TopologyConfig(name="").validate()


def test_processor_concurrency_positive():
    with pytest.raises(ConfigError, match=":concurrency"):
        TopologyConfig(
            name="p", processors=ProcessorConfig(concurrency=0)
        ).validate()


@pytest.mark.parametrize("bad", [0, -2, "8", 2.0, None, True])
def test_state_partitions_positive_int(bad):
    # a bad width used to reach spark.conf.set only at query start
    with pytest.raises(ConfigError, match=":state_partitions"):
        TopologyConfig(name="p", state_partitions=bad).validate()


def test_batch_size_positive():
    with pytest.raises(ConfigError, match=":batch_size"):
        TopologyConfig(
            name="p",
            batchers={"default": BatcherConfig(batch_size=0)},
            sinks={"default": SinkConfig(path="/tmp/x")},
        ).validate()


def test_budget_batch_size_tuple():
    cfg = TopologyConfig(
        name="p",
        batchers={"default": BatcherConfig(batch_size=("value", 100.0))},
        sinks={"default": SinkConfig(path="/tmp/x")},
    ).validate()
    assert cfg.batchers["default"].batch_size == ("value", 100.0)


def test_batch_timeout_positive():
    with pytest.raises(ConfigError, match=":batch_timeout"):
        TopologyConfig(
            name="p",
            batchers={"default": BatcherConfig(batch_timeout_ms=0)},
            sinks={"default": SinkConfig(path="/tmp/x")},
        ).validate()


def test_batcher_requires_sink():
    with pytest.raises(ConfigError, match="no sink"):
        TopologyConfig(
            name="p", batchers={"billing": BatcherConfig()}
        ).validate()


def test_sink_must_match_batcher():
    with pytest.raises(ConfigError, match="does not match any batcher"):
        TopologyConfig(
            name="p",
            batchers={"billing": BatcherConfig()},
            sinks={
                "billing": SinkConfig(path="/tmp/b"),
                "ghost": SinkConfig(path="/tmp/g"),
            },
        ).validate()


def test_rate_limit_validation():
    with pytest.raises(ConfigError, match=":allowed_messages"):
        TopologyConfig(
            name="p", rate_limit=RateLimit(allowed_messages=0, interval_ms=100)
        ).validate()
    with pytest.raises(ConfigError, match=":interval"):
        TopologyConfig(
            name="p", rate_limit=RateLimit(allowed_messages=5, interval_ms=0)
        ).validate()


def test_partition_by_carry_over():
    """broadway.ex:1154-1182: top-level partition_by cascades to layers
    that don't set their own."""
    cfg = TopologyConfig(
        name="p",
        partition_by="user_id",
        batchers={
            # a 'default' batcher is required without route_by (rows
            # route to :default; unknown batcher = silent drop)
            "default": BatcherConfig(),
            "b": BatcherConfig(partition_by="other"),
        },
        sinks={
            "default": SinkConfig(path="/t/a"),
            "b": SinkConfig(path="/t/b"),
        },
    ).validate()
    assert cfg.processors.partition_by == "user_id"
    assert cfg.batchers["default"].partition_by == "user_id"
    assert cfg.batchers["b"].partition_by == "other"


def test_default_processor_concurrency_is_2x_cores():
    import os

    cfg = TopologyConfig(name="p").validate()
    assert cfg.processors.concurrency == (os.cpu_count() or 4) * 2


def test_driver_contract_queries_and_oracles_stay_in_sync():
    """Drift guard for the driver contract: every queries() entry has
    an oracle_sql() twin and vice versa (the correctness gate compares
    them pairwise — an orphan on either side silently weakens the
    gate), and every oracle is a non-empty SQL string."""
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(qs) == set(oracles)
    assert all(callable(fn) for fn in qs.values())
    assert all(
        isinstance(sql, str) and sql.strip().upper().startswith(("SELECT", "WITH"))
        for sql in oracles.values()
    )
