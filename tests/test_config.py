"""Config-validation tests — mirroring the reference's option-validation
suite (``test/broadway_test.exs:198-291``)."""

import pytest

from broadway_spark.config import (
    BatcherConfig,
    ConfigError,
    SinkConfig,
    TopologyConfig,
)


def test_name_required():
    with pytest.raises(ConfigError, match=":name"):
        TopologyConfig(name="").validate()


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


def test_partition_by_type_checked():
    with pytest.raises(ConfigError, match=":partition_by"):
        TopologyConfig(name="p", partition_by=3).validate()


def test_validate_leaves_config_unchanged():
    """validate() only checks: it returns the config it was given with
    every field as the caller set it."""
    import copy

    cfg = TopologyConfig(
        name="p",
        partition_by="user_id",
        batchers={"default": BatcherConfig(batch_size=5)},
        sinks={"default": SinkConfig(path="/t/a")},
    )
    before = copy.deepcopy(cfg)
    assert cfg.validate() is cfg
    assert cfg == before


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


def test_every_config_field_is_read_outside_validation():
    """No config knob silently does nothing: every field of every config
    dataclass is read as an attribute somewhere in ``broadway_spark/``
    outside ``config.py`` (which only validates) and
    ``Pipeline.topology`` (which only echoes the config back).

    A read ``x.<f>.<attr>``, where ``f`` is a field holding one config
    class, counts for that class only; any other ``x.<attr>`` counts for
    every config class with a field ``attr``."""
    import ast
    import dataclasses
    import pathlib
    import re

    import broadway_spark.config as C

    classes = [
        v
        for v in vars(C).values()
        if isinstance(v, type)
        and dataclasses.is_dataclass(v)
        and v.__module__ == C.__name__
    ]
    assert {"TopologyConfig", "BatcherConfig", "SinkConfig"} <= {
        c.__name__ for c in classes
    }
    fields = {c: {f.name for f in dataclasses.fields(c)} for c in classes}
    holds = {
        f.name: d
        for c in classes
        for f in dataclasses.fields(c)
        for d in classes
        if re.fullmatch(rf"{d.__name__}( \| None)?", str(f.type))
    }

    read: set[tuple[type, str]] = set()
    config_py = pathlib.Path(C.__file__)
    for path in config_py.parent.rglob("*.py"):
        if path == config_py:
            continue
        tree = ast.parse(path.read_text())
        echo = {
            id(n)
            for cls in ast.walk(tree)
            if isinstance(cls, ast.ClassDef) and cls.name == "Pipeline"
            for fn in cls.body
            if isinstance(fn, ast.FunctionDef) and fn.name == "topology"
            for n in ast.walk(fn)
        }
        for n in ast.walk(tree):
            if not (
                isinstance(n, ast.Attribute)
                and isinstance(n.ctx, ast.Load)
                and id(n) not in echo
            ):
                continue
            recv = n.value
            if isinstance(recv, ast.Attribute) and recv.attr in holds:
                owners = [holds[recv.attr]]
            else:
                owners = classes
            read.update((c, n.attr) for c in owners if n.attr in fields[c])

    unread = sorted(
        f"{c.__name__}.{name}"
        for c in classes
        for name in fields[c]
        if (c, name) not in read
    )
    assert not unread, f"config fields no code path reads: {unread}"


def test_every_reader_option_is_set_by_a_handle():
    """No reader option silently does nothing: every key a data source
    reader under ``broadway_spark/sources/`` reads from its options
    (``options[k]`` / ``options.get(k)``) is passed by library code,
    as a literal ``.option("k", ...)`` or as a ``stream_options``
    entry of a source handle."""
    import ast
    import pathlib

    import broadway_spark

    def options_recv(node):
        return (isinstance(node, ast.Name) and node.id == "options") or (
            isinstance(node, ast.Attribute) and node.attr == "options"
        )

    def literal(node):
        return node.value if isinstance(node, ast.Constant) else None

    root = pathlib.Path(broadway_spark.__file__).parent
    read, passed = set(), set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        in_sources = path.parent.name == "sources"
        for n in ast.walk(tree):
            if in_sources and isinstance(n, ast.Subscript) and options_recv(n.value):
                read.add((literal(n.slice), path.name))
            elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                if (
                    in_sources
                    and n.func.attr == "get"
                    and options_recv(n.func.value)
                    and n.args
                ):
                    read.add((literal(n.args[0]), path.name))
                elif n.func.attr == "option" and n.args:
                    passed.add(literal(n.args[0]))
            elif isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "stream_options"
                for t in n.targets
            ):
                passed.update(literal(e) for e in n.value.elts)

    # A key built at run time (``.option(k, v)``) names no option.
    passed.discard(None)
    assert {"path", "schema_ddl", "max_backlog"} <= {k for k, _ in read}
    unset = sorted(
        f"{where}: {key!r}" for key, where in read if key not in passed
    )
    assert not unset, f"reader options no handle sets: {unset}"
