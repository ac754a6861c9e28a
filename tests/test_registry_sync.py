"""Registry-drift guards: queries(), oracle_sql(), and FIXTURES.md
§F4.1 must describe the same set. These are the contracts the driver's
correctness gate consumes — a query missing its oracle twin silently
downgrades to a weaker rows-only check, and a FIXTURES omission keeps
it out of the declared gate entirely."""

import os
import re

import __spark_entry__ as entry

from .conftest import ROOT

FIXTURES = os.path.join(ROOT, "FIXTURES.md")


def test_suite_imports_the_checkout_it_lives_in():
    """The engine and the registry under test are this checkout's, not
    another copy that happens to be on ``sys.path``."""
    import broadway_spark

    for mod in (broadway_spark, entry):
        assert os.path.commonpath([ROOT, os.path.abspath(mod.__file__)]) == ROOT


def test_every_query_has_an_oracle_twin():
    q, o = set(entry.queries()), set(entry.oracle_sql())
    assert q == o, (
        f"queries without oracle: {sorted(q - o)}; "
        f"oracles without query: {sorted(o - q)}"
    )


def test_fixtures_declares_every_query_and_the_right_count():
    text = open(FIXTURES).read()
    q = set(entry.queries())
    missing = sorted(n for n in q if n not in text)
    assert not missing, f"queries absent from FIXTURES.md: {missing}"
    m = re.search(r"\((\d+)/\1 — no weaker", text)
    assert m, "FIXTURES.md §F4.1 count line not found"
    assert int(m.group(1)) == len(q), (
        f"FIXTURES.md declares {m.group(1)} queries, registry has {len(q)}"
    )


def test_query_names_are_snake_case_and_unique_prefix_taxonomy():
    """Names follow the family-prefix taxonomy the docs index by."""
    families = (
        "s", "p", "x", "b", "a", "h", "w", "d", "u", "r", "j", "f",
        "set", "str", "date", "math", "arr", "json", "null", "bit",
        "regex", "agg", "sketch", "text", "dedup", "sim", "emb",
        "sample", "pipeline", "multimodal", "skew", "ts", "aj", "rj",
        "pv", "evt", "pack", "cdc", "graph", "ds", "l", "ij", "rel",
        "rec", "sql", "edge",
    )
    for name in entry.queries():
        assert re.fullmatch(r"[a-z0-9_]+", name), name
        assert any(
            name.startswith(fam + "_") or re.match(rf"{fam}\d", name)
            for fam in families
        ), f"query name outside the documented taxonomy: {name}"
