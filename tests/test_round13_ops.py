"""Round-13 additions: red-on-revert tests for the r12 ADVICE fixes
(zero-denominator NULL in div_trunc, the canonical ppm() threshold
helper, the _await_acks transient-count retry) and the hardened
policy-sweep markers.
"""

import importlib.util
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from .conftest import ROOT

spec = importlib.util.spec_from_file_location(
    "entry13", os.path.join(ROOT, "__spark_entry__.py")
)
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)


def test_div_trunc_zero_denominator_is_null_not_error(spark):
    """Under Spark ANSI defaults, decimal % and / throw DIVIDE_BY_ZERO;
    div_trunc must instead publish NULL on a zero denominator — the
    DuckDB HUGEINT // convention and the behavior of the double path it
    replaced — so one empty group cannot abort a whole query (r12
    ADVICE). Reverting the F.when guard turns this into a raise."""
    from broadway_spark.functions.exact import div_trunc, ratio_ppm

    rows = (
        spark.createDataFrame(
            [(10, 4), (10, 0), (-7, 0), (0, 0)], "n long, m long"
        )
        .select(
            div_trunc(F.col("n"), F.col("m")).alias("q"),
            ratio_ppm(F.col("n"), F.col("m")).alias("p"),
        )
        .collect()
    )
    assert [r["q"] for r in rows] == [2, None, None, None]
    assert [r["p"] for r in rows] == [2_500_000, None, None, None]


def test_ppm_helper_matches_written_decimal_not_float_truncation():
    """ppm() must recover the decimal the human wrote: thresholds whose
    float·1e6 lands just below an integer (0.000249·1e6 = 248.999…)
    truncate to the WRONG ppm under int(t*1e6) — the r12 ADVICE
    operator-vs-oracle divergence class. All currently-used constants
    are unchanged (hash stability)."""
    from broadway_spark.functions.exact import ppm

    assert ppm(0.000249) == 249  # int(0.000249 * 1e6) == 248
    assert int(0.000249 * 1e6) == 248  # the bug ppm() exists to avoid
    for t, want in [(0.2, 200000), (0.5, 500000), (0.8, 800000),
                    (0.6, 600000), (0.29, 290000)]:
        assert ppm(t) == want


def test_await_acks_retries_transient_count_failure(spark, tmp_path):
    """_await_acks must NOT advance its counted-batchId past a failed
    parquet count: if the drain-completing micro-batch is the LAST one,
    a single transient read failure would otherwise never be recounted
    and the loop stalls to the deadline (r12 ADVICE). Here the ack
    parquet appears only 1 s in while batchId stays frozen — the old
    advance-on-failure code raises 'incomplete'; the retry returns."""

    class _FrozenQuery:
        lastProgress = {"batchId": 7, "numInputRows": 0}

    path = str(tmp_path / "acks")

    def _late_write():
        time.sleep(1.0)
        spark.range(5).write.parquet(path)

    w = threading.Thread(target=_late_write)
    w.start()
    try:
        got = entry._await_acks(
            spark, _FrozenQuery(), path, expected=5, deadline_s=30,
            label="test",
        )
    finally:
        w.join()
    assert got == 5


def test_sf1_sweep_separates_no_oracle_from_spark_only():
    """The sweep's nonzero-exit rule keys on timeout-driven spark-only
    rows; a registry query WITHOUT an oracle (the driver's weaker
    rows-only class) has no bounded-twin remediation path and must be
    counted under n_no_oracle, not n_spark_only (r12 ADVICE)."""
    import pathlib

    src = pathlib.Path(ROOT, "scripts", "sf1_sweep.py").read_text()
    assert "n_no_oracle" in src
    assert 'entry["oracle"] == "no_oracle"' in src
    # bounded slice always cleaned up
    assert "shutil.rmtree(bdir" in src


def test_operator_and_oracle_thresholds_share_ppm_helper():
    """Both the operator-side filters (dedup.py) and the entry/oracle
    literals must route threshold→ppm through functions.exact.ppm — a
    reintroduced int(t*1e6) or int(round(t*1e6)) recreates the 1-ppm
    divergence class."""
    import pathlib
    import re

    for p in (
        os.path.join(ROOT, "broadway_spark", "operators", "dedup.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ):
        src = pathlib.Path(p).read_text()
        bad = re.findall(
            r"int\((?:round\()?\s*\w+\s*\*\s*(?:1_000_000|1e6)\s*\)?\)",
            src,
        )
        assert not bad, f"{p}: raw threshold→ppm conversion {bad}"


def test_admission_final_totals_packing_invariant(spark):
    """_admission_final_totals must return identical totals for any
    micro-batch packing of the same corpus: the emission log differs
    (one row per touching batch), the max-seq row per key does not."""
    cols = (
        "reason string, lang string, n_docs long, sum_n_tokens long,"
        " sum_quality_ppm long, seq long"
    )
    # packing A: one batch saw everything
    log_a = [("accepted", "en", 10, 500, 6_000_000, 1)]
    # packing B: three batches accumulated to the same totals
    log_b = [
        ("accepted", "en", 3, 150, 1_800_000, 1),
        ("accepted", "en", 7, 350, 4_100_000, 2),
        ("accepted", "en", 10, 500, 6_000_000, 3),
    ]
    got = []
    for log in (log_a, log_b):
        rows = entry._admission_final_totals(
            spark.createDataFrame(log, cols)
        ).collect()
        got.append(sorted(tuple(r) for r in rows))
    assert got[0] == got[1]
    assert got[0] == [("accepted", "en", 10, 500, 600000)]
