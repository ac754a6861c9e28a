"""Round-12 additions: the generalized fixed-dp-round policy sweep and
cross-engine semantics tests for the exact-ppm publication helpers
(functions/exact.py).

THE POLICY (BASELINE.md, generalizing r11's
test_no_2dp_round_on_product_scale_decimal_sums): a fixed-dp round may
only be published when its operand carries an irrational factor (sqrt /
pow / log / exp — half-way cases have measure zero) or when BOTH
engines provably round the IDENTICAL IEEE double (same generated
expression over the same exact inputs). A ratio of integer-typed or
exact-decimal aggregates is an exact rational: round(n/m, d) ties
exactly whenever m's reduced denominator is 2^(d+1)·5^j, and there
Spark's BigDecimal HALF_UP and DuckDB's double round() split by one
ulp. Such ratios must be published as exact integer ppm
(functions/exact.py::ratio_ppm) instead.
"""

import importlib.util
import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from .conftest import ROOT

spec = importlib.util.spec_from_file_location(
    "entry", os.path.join(ROOT, "__spark_entry__.py")
)
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)


# Operands whose expression CALLS one of these functions carry an
# irrational factor — half-way cases have measure zero and fixed-dp
# rounds are legal. Matching is STRUCTURAL (r12 verdict finding 3): the
# token must be an actual function-call head (`name(`), not a substring
# — a column aliased `backlog_ratio` or `exposure` must NOT exempt its
# round() from the sweep.
_IRRATIONAL_CALL = re.compile(
    r"\b(sqrt|power|pow|exp|ln|log|log2|log10|log1p"
    r"|stddev|stddev_samp|stddev_pop|var_samp|var_pop|corr"
    r"|sin|cos|tan|asin|acos|atan|atan2|pi)\s*\(",
    re.I,
)


def _has_irrational_call(arg: str) -> bool:
    return _IRRATIONAL_CALL.search(arg) is not None

# Queries whose surviving round-over-division is justified — each entry
# documents WHY the operand is not in the exact-rational-tie class.
# Removing a ppm migration elsewhere makes that query reappear here
# un-allowlisted and the sweep go red (red-on-revert).
_ALLOWLIST = {
    # Sums are cast to DOUBLE before the formula; both engines then
    # evaluate the identical IEEE expression and round the SAME double
    # — not the exact-rational-vs-double split (validated at three
    # scales; the boundary audit covers the gate scales).
    "agg_linreg": "identical-double-path regression formula",
    "agg_skew_kurtosis": "identical-double-path moment formula",
    # scale = max|x|/127 and x/scale run in double identically on both
    # engines; both round() tie rules are away-from-zero on doubles.
    "emb_quantize_int8": "identical-double-path quantizer",
    # Σprice/7: a reduced denominator of 7·10^k can never equal the
    # 2^(d+1)·5^j tie form — no 2dp half-way case exists.
    "h17_small_qty": "denominator 7 cannot tie at any fixed dp",
    # The oracle runs the SAME generated SQL string as the Spark side
    # (lag-chain dyadic truncation) — identical doubles by
    # construction.
    "ts_ewma": "oracle runs the identical generated expression",
    # r13: the 9 quality-composite entries are RETIRED — those queries
    # now publish functions/text.quality_ppm end-to-end (no double
    # path exists to allowlist); h2_min_cost publishes exact integer
    # micro-units (its round was the identity).
}


def _round_args(sql):
    for m in re.finditer(r"\bround\s*\(", sql, re.I):
        i = m.end()
        depth, j = 1, i
        while depth and j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        yield sql[i : j - 1]


def test_no_fixed_dp_round_over_rational_ratio():
    """Generalized numeric-policy sweep: every oracle's round() whose
    operand contains a division must either carry an irrational factor
    or be allowlisted with a written justification. New integer-ratio
    publications must use functions/exact.py::ratio_ppm — reverting
    any ppm migration (evt_markov, gopher, ttr, jaccard family, …)
    re-introduces a bare round-over-ratio here and goes red."""
    offenders = []
    for name, sql in entry.oracle_sql().items():
        for arg in _round_args(sql):
            if "/" not in arg:
                continue
            if _has_irrational_call(arg):
                continue
            if name in _ALLOWLIST:
                continue
            offenders.append((name, " ".join(arg.split())[:70]))
    assert not offenders, (
        "fixed-dp round over a rational ratio (the evt_burstiness/"
        f"h7-h9 half-way class) — publish integer ppm instead: {offenders}"
    )


def test_allowlist_entries_still_needed():
    """The allowlist must not rot: every entry must still have at
    least one round-over-division in its oracle, else the entry is
    stale and should be deleted."""
    stale = []
    oracles = entry.oracle_sql()
    for name in _ALLOWLIST:
        sql = oracles.get(name)
        assert sql is not None, f"allowlisted query {name} vanished"
        live = any(
            "/" in arg and not _has_irrational_call(arg)
            for arg in _round_args(sql)
        )
        if not live:
            stale.append(name)
    assert not stale, f"stale allowlist entries: {stale}"


def test_irrational_marker_is_call_anchored():
    """A column NAME containing a marker substring must not exempt its
    round-over-division (the `backlog_ratio` rot the r12 verdict
    flagged); a genuine call must. Red-on-revert for the structural
    matcher."""
    assert not _has_irrational_call("backlog_ratio / total")
    assert not _has_irrational_call("exposure / n")  # 'pow'/'exp' inside words
    assert not _has_irrational_call("dialog_count / n")
    assert not _has_irrational_call("powers / n")
    assert _has_irrational_call("log(x) / y")
    assert _has_irrational_call("sqrt(a / b)")
    assert _has_irrational_call("stddev_samp(x) / n")
    assert _has_irrational_call("2 * pi ( ) / n") is True


@pytest.mark.parametrize(
    "num,den",
    [
        (1, 2_000_000),  # exact half-way ppm case
        (3, 2_000_000),
        (-7, 3),
        (7, -3),
        (2215, 3200),  # 0.6921875 — the 6dp tie the old round() hit
        (123456789012345, 9999991),
        (0, 5),
    ],
)
def test_ratio_ppm_matches_duckdb_hugeint_div(spark, num, den):
    """ratio_ppm (Spark decimal remainder identity) must equal
    DuckDB's (n·1e6) // d over HUGEINT — the oracle twin — for signs,
    half-way cases, and large magnitudes."""
    from broadway_spark.functions.exact import ratio_ppm

    got = (
        spark.createDataFrame([(num, den)], "n long, m long")
        .select(ratio_ppm(F.col("n"), F.col("m")).alias("ppm"))
        .collect()[0]["ppm"]
    )
    want = duckdb.sql(
        f"select CAST((CAST({num} AS HUGEINT) * 1000000)"
        f" // CAST({den} AS HUGEINT) AS BIGINT)"
    ).fetchone()[0]
    assert got == want


def test_div_trunc_decimal_scales(spark):
    """div_trunc is exact for scaled-decimal inputs (the winsorized /
    market-share pattern): scales cancel, truncation toward zero."""
    from broadway_spark.functions.exact import div_trunc, ratio_ppm

    df = spark.createDataFrame(
        [("12.34", "56.78"), ("-12.34", "56.78")], "a string, b string"
    ).select(
        F.col("a").cast("decimal(18,2)").alias("a"),
        F.col("b").cast("decimal(18,2)").alias("b"),
    )
    rows = df.select(
        ratio_ppm(F.col("a"), F.col("b")).alias("ppm"),
        div_trunc(F.col("a") * 1000, F.col("b")).alias("q"),
    ).collect()
    assert [r["ppm"] for r in rows] == [217330, -217330]
    assert [r["q"] for r in rows] == [217, -217]


def test_session_journeys_gap_cut_and_cap(spark):
    """session_journeys: a gap > gap_minutes opens a new session; the
    journey holds only the FIRST max_events initials (bounded
    aggregation state) while n_events reports the true session size."""
    from datetime import datetime

    from broadway_spark.operators.temporal import session_journeys

    base = datetime(2024, 1, 1, 12, 0, 0)

    def t(mins):
        return base.replace(hour=12 + mins // 60, minute=mins % 60)

    rows = [
        # user 1, session 0: a b c within 30-min gaps
        (1, t(0), 1, "a"),
        (1, t(10), 2, "b"),
        (1, t(39), 3, "c"),
        # 31-min gap -> session 1: d e
        (1, t(71), 4, "d"),
        (1, t(80), 5, "e"),
        # user 2: 5 events, cap 3 -> journey 'vvv' but n_events 5
        (2, t(0), 6, "v"),
        (2, t(1), 7, "v"),
        (2, t(2), 8, "v"),
        (2, t(3), 9, "v"),
        (2, t(4), 10, "v"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, i string"
    )
    got = {
        (r["user_id"], r["session_idx"]): (r["journey"], r["n_events"])
        for r in session_journeys(
            df,
            "ts",
            ["user_id"],
            "i",
            order_cols=["ts", "event_id"],
            gap_minutes=30,
            max_events=3,
        ).collect()
    }
    assert got == {
        (1, 0): ("abc", 3),
        (1, 1): ("de", 2),
        (2, 0): ("vvv", 5),
    }


def test_session_journeys_exact_30min_gap_stays_in_session(spark):
    """The break condition is strictly greater-than: an event exactly
    gap_minutes after its predecessor continues the session (the
    documented boundary, identical in the oracle SQL)."""
    from datetime import datetime

    from broadway_spark.operators.temporal import session_journeys

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "a"),
        (1, base.replace(minute=30), 2, "b"),  # exactly 30 min later
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, i string"
    )
    out = session_journeys(
        df, "ts", ["user_id"], "i", order_cols=["ts", "event_id"]
    ).collect()
    assert len(out) == 1 and out[0]["journey"] == "ab"


def test_ivfpq_index_merge_self_batch_zero_drift(spark):
    """Sanity on the drift audit: when the new batch IS a subset of
    the archive's own vectors, its per-cell reconstruction error
    equals the archive rows' for those vectors — drift stays near 1e6
    ppm and never NULLs out for touched cells; untouched cells report
    n_new = 0 with NULL stats."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "e", os.path.join(ROOT, "__spark_entry__.py")
    )
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)
    from pyspark.sql import functions as F

    from broadway_spark.operators import materialize as matz
    from broadway_spark.operators.similarity import ivfpq_index_merge

    emb = e._t(spark, "/root/testdata/sf0.001", "embeddings")
    archive = emb
    new = emb.where(F.col("vec_id") % 37 == 0)
    try:
        rows = ivfpq_index_merge(
            archive,
            new,
            "vec_id",
            "embedding",
            m=16,
            dim=64,
            num_codes=8,
            train_iters=1,
            num_centroids=8,
        ).collect()
    finally:
        matz.release_all()
    assert rows, "no cells"
    for r in rows:
        assert r["n_archive"] >= 1
        if r["n_new"] == 0:
            assert r["mean_err_new"] is None and r["drift_ppm"] is None
        else:
            assert r["mean_err_new"] >= 0 and r["drift_ppm"] >= 0
    # new ⊂ archive: the batch's mean error per cell can't exceed the
    # archive's worst cell mean by construction of shared codebooks —
    # weak but engine-independent sanity that errors are commensurate
    touched = [r for r in rows if r["n_new"] > 0]
    assert touched, "slice hit no cell"
