"""Round-9 hardening invariants.

1. agg_gini must NOT wrap at products past 2^63: the inner
   SUM(rk*cents) is widened to DECIMAL(38,0) BEFORE aggregation (the
   r8 verdict's #1 defect — widen-after-sum silently overflows BIGINT
   near sf1000 while the DuckDB oracle auto-widens to HUGEINT).
2. rel_skyline's global-window step carries an executable cardinality
   guard on the distinct-price frontier input.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry


def _write_gini_fixture(spark, root):
    """Synthetic orders/customer whose per-customer cents sit near
    2^60, so Σ(rank·cents) and (n+1)·Σcents both exceed 2^63: the
    exact regime where a BIGINT inner sum wraps silently."""
    # one nation, five customers, one order each; cents ≈ 8e17
    base = 8_000_000_000_000_000  # 8e15 totalprice → 8e17 cents
    orders = spark.createDataFrame(
        [(i, i, float(base + i)) for i in range(1, 6)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).withColumn(
        "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
    )
    customer = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)],
        "c_custkey long, c_nationkey long",
    )
    orders.write.mode("overwrite").parquet(f"{root}/orders.parquet")
    customer.write.mode("overwrite").parquet(f"{root}/customer.parquet")
    cents = [(base + i) * 100 for i in range(1, 6)]
    return cents


def _gini_ppm_closed_form(cents):
    """Arbitrary-precision Python reference: ranks ascending by
    (cents, custkey) — here cents are already strictly increasing."""
    xs = sorted(cents)
    n = len(xs)
    tot = sum(xs)
    num = 2 * sum(rk * x for rk, x in enumerate(xs, start=1)) - (
        n + 1
    ) * tot
    return (num * entry.GINI_SCALE) // (n * tot)


def test_gini_no_bigint_overflow(spark, tmp_path):
    cents = _write_gini_fixture(spark, str(tmp_path))
    # sanity: the fixture actually crosses 2^63 in BOTH inner terms,
    # otherwise this test proves nothing.
    inner = sum(rk * x for rk, x in enumerate(sorted(cents), start=1))
    assert inner > 2**63, "fixture no longer exercises the overflow"
    assert (len(cents) + 1) * sum(cents) > 2**63
    rows = entry.q_agg_gini(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    row = rows[0]
    expected = _gini_ppm_closed_form(cents)
    assert row["gini_ppm"] == expected, (
        f"spark={row['gini_ppm']} closed-form={expected}: the inner "
        "SUM must widen to DECIMAL(38,0) BEFORE aggregating"
    )
    assert row["n_customers"] == 5
    assert row["total_cents"] == sum(cents)


def test_hhi_no_bigint_overflow(spark, tmp_path):
    """agg_hhi_concentration on the same past-2^63 fixture: cents² ≈
    6.4e35 per customer — any BIGINT intermediate wraps immediately;
    the DECIMAL(38,0) aggregates must match the arbitrary-precision
    closed form."""
    cents = _write_gini_fixture(spark, str(tmp_path))
    assert max(cents) ** 2 > 2**63
    rows = entry.q_agg_hhi_concentration(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    tot = sum(cents)
    s2 = sum(c * c for c in cents)
    # the declared branched spec: exact ·1e6 form below 1e32, else the
    # pre-scaled-denominator form (±1 ppm of exact)
    if s2 < 10**32:
        expected = s2 * 1_000_000 // (tot * tot)
    else:
        import math

        expected = math.floor(
            float(s2) / float(tot) / float(tot) * 1_000_000.0
        )
    assert rows[0]["hhi_ppm"] == expected
    exact = s2 * 1_000_000 // (tot * tot)
    assert abs(rows[0]["hhi_ppm"] - exact) <= 1
    assert rows[0]["total_cents"] == tot


def test_gini_oracle_parity_on_overflow_fixture(spark, tmp_path):
    """DuckDB (HUGEINT sums) and Spark (DECIMAL(38,0) sums) must agree
    bit-for-bit on the same past-2^63 fixture."""
    duckdb = pytest.importorskip("duckdb")
    _write_gini_fixture(spark, str(tmp_path))
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet/*.parquet')"
        )
    oracle = con.execute(entry.oracle_sql()["agg_gini"]).fetchall()
    got = [
        tuple(r)
        for r in entry.q_agg_gini(spark, str(tmp_path)).collect()
    ]
    assert sorted(got) == sorted(tuple(r) for r in oracle)


# ---------------------------------------------------------------------------
# r9 overflow sweep: the widened formula shapes, evaluated with
# past-2^63 operands and pinned to arbitrary-precision Python. A
# count-based overflow can't be materialized as a physical fixture
# (it needs >9.2e12 rows), so the sweep proves the EXPRESSION forms:
# the same DECIMAL(38,0)-widened SQL the queries now use, fed the
# operand magnitudes a 100 TB run would produce.
# ---------------------------------------------------------------------------

# (label, spark SQL over a 1-row table, python closed form)
_SWEEP_CASES = [
    (
        "ppm_numerator",  # lang_confusion / redaction / kfold / journey
        "CAST((n * CAST(1000000 AS DECIMAL(38,0))) DIV tot AS BIGINT)",
        lambda n, tot, nk: (n * 1_000_000) // tot,
    ),
    (
        "skew_share_ppm",
        "CAST(n * CAST(1000000 AS DECIMAL(38,0)) DIV tot AS BIGINT)",
        lambda n, tot, nk: (n * 1_000_000) // tot,
    ),
    (
        "skew_salt_factor",
        "CAST((CAST(n AS DECIMAL(38,0)) * nk + tot - 1) DIV tot"
        " AS BIGINT)",
        lambda n, tot, nk: (n * nk + tot - 1) // tot,
    ),
    (
        "cosine_sq_ppm",  # rec_item_cosine with co=n, deg_a=tot, deg_b=nk
        "CAST(CAST(n AS DECIMAL(38,0)) * n * 1000000"
        " DIV (CAST(tot AS DECIMAL(38,0)) * nk) AS BIGINT)",
        lambda n, tot, nk: (n * n * 1_000_000) // (tot * nk),
    ),
]


@pytest.mark.parametrize("label,sql,pyform", _SWEEP_CASES)
def test_overflow_sweep_formula_shapes(spark, label, sql, pyform):
    # skewed-key magnitudes at sf100k: n = 6e14 rows on one key,
    # tot = 6.01e14 total, nk = 1e7 keys. Every product here is past
    # 2^63 (n·1e6 = 6e20, n·nk = 6e21, n²·1e6 = 3.6e35).
    n, tot, nk = 600_000_000_000_000, 601_000_000_000_000, 10_000_000
    assert n * 1_000_000 > 2**63  # the sweep's premise
    row = (
        spark.createDataFrame([(n, tot, nk)], "n long, tot long, nk long")
        .selectExpr(f"{sql} AS v")
        .collect()[0]
    )
    assert row["v"] == pyform(n, tot, nk), label


def test_bucketed_pair_publish_is_transactional(spark, tmp_path):
    """publish_bucketed_pair: a crash between the two writes leaves
    NO manifest (readers keep seeing nothing/the prior version), the
    resume publishes both tables, and the manifest-resolved pair
    still joins with zero Exchange below the join (bucketed layout
    survived the crash-and-resume)."""
    from broadway_spark.operators import layout as LY

    SF = "/root/testdata/sf0.001"
    li = entry._t(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = entry._t(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    manifest = str(tmp_path / "manifest.json")
    specs = [
        (li, "t9_s28_li", str(tmp_path / "li"), ["l_orderkey"], 8),
        (od, "t9_s28_od", str(tmp_path / "od"), ["o_orderkey"], 8),
    ]
    with pytest.raises(LY.InjectedLayoutCrash):
        LY.publish_bucketed_pair(specs, manifest, "v1", fail_between=True)
    import os

    assert not os.path.exists(manifest), "torn layout was published"
    # the orphaned v1 staging table exists in the catalog — the resume
    # must neither read nor trip over it.
    assert spark.catalog.tableExists("t9_s28_li_v1")
    LY.publish_bucketed_pair(specs, manifest, "v2")
    a, b = LY.read_bucketed_pair(spark, manifest)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            a.join(b, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Bucketed: true") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # agg only


SF001 = "/root/testdata/sf0.001"


def test_cms_estimate_is_one_sided(spark):
    """Count-min's defining guarantee: est ≥ true for EVERY reported
    key (min over d counters can overcount via collisions, never
    undercount)."""
    rows = entry.q_sketch_cms_heavy_hitters(spark, SF001).collect()
    assert rows, "no heavy hitters reported"
    for r in rows:
        assert r["cms_est"] >= r["true_cnt"], r


def test_rrf_scores_bounded_and_fused(spark):
    """RRF invariants: every fused candidate has at least one source
    rank; rrf_ppm is bounded by 2·⌊1e6/(K+1)⌋; a doc ranked #1 by
    both systems would hit exactly that bound; fused_rank is a
    1-based dense sequence per query."""
    rows = entry.q_sim_hybrid_rrf(spark, SF001).collect()
    assert rows
    bound = 2 * (1_000_000 // (entry.RRF_K + 1))
    by_q = {}
    for r in rows:
        assert r["r_lex"] is not None or r["r_dense"] is not None, r
        assert 0 < r["rrf_ppm"] <= bound, r
        by_q.setdefault(r["query_id"], []).append(r["fused_rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_assoc_rule_measures_in_range(spark):
    """support ≤ confidence (deg_A ≤ n_baskets), confidence ≤ 1e6,
    and co ≥ the floor for every reported rule."""
    rows = entry.q_rec_assoc_rules(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["co"] >= entry.ASSOC_MIN_CO, r
        assert r["support_ppm"] <= r["confidence_ppm"] <= 1_000_000, r
        assert r["lift_ppm"] > 0, r


def test_majority_vote_agreement(spark):
    """The winner's count is the per-item max, agreement is its exact
    ppm share, and every item of the vote universe is resolved."""
    rows = entry.q_agg_majority_vote(spark, SF001).collect()
    assert len(rows) == min(
        entry.VOTE_ITEM_MOD,
        entry._t(spark, SF001, "events").count(),
    )
    for r in rows:
        assert 0 < r["n_votes"] <= r["n_total"], r
        assert r["agree_ppm"] == r["n_votes"] * 1_000_000 // r["n_total"]


def test_ewma_recency_dominance(spark):
    """Dyadic weighting: the head term latest_cents·2^(H−1) is
    included in the sum (lower bound, values are non-negative in this
    corpus), and no user reports more than H recent events."""
    rows = entry.q_evt_ewma_dyadic(spark, SF001).collect()
    assert rows
    H = entry.EWMA_HORIZON
    for r in rows:
        assert 1 <= r["n_recent"] <= H, r
        assert r["ewma_units"] >= r["latest_cents"] << (H - 1), r


def test_spool_batch_read_matches_pushed_records(spark, tmp_path):
    """DataSource.reader(): the batch read returns exactly the pushed
    backlog across file boundaries, decoding with the same coercers
    as the streaming path."""
    from broadway_spark.sources import SpoolSource

    src = SpoolSource(
        name="t9spool",
        path=str(tmp_path / "spool"),
        schema_ddl="event_id long, event_type string, value double",
        ack_data_column="event_id",
        num_partitions=3,
    )
    recs = [
        {"event_id": i, "event_type": f"t{i % 3}", "value": i / 4.0}
        for i in range(97)
    ]
    src.push_messages(recs[:40], "000_a.jsonl")
    src.push_messages(recs[40:], "001_b.jsonl")
    got = sorted(
        (r["event_id"], r["event_type"], r["value"])
        for r in src.read_batch(spark).collect()
    )
    assert got == [(r["event_id"], r["event_type"], r["value"]) for r in recs]


def test_semi_join_equals_distinct_inner_lefts(spark):
    """s29's emitted purchase set == the distinct purchase ids of the
    s12 inner join — semi semantics, cross-checked between the two
    live streaming drains."""
    semi = {
        r["purchase_id"]
        for r in entry.q_s29_stream_semi_join(spark, SF001).collect()
    }
    inner = {
        r["purchase_id"]
        for r in entry.q_s12_stream_join(spark, SF001).collect()
    }
    assert semi == inner and semi


def test_decay_credit_sum_widens(spark):
    """evt_attribution_decay's credit sum: DECIMAL(38,0) inside the
    aggregate must carry Σ(2^20-unit credits) past 2^63 exactly.
    9e12 rows can't be materialized, so prove the same sum form on
    few rows of maximal synthetic magnitude (the per-row cap doesn't
    constrain the aggregate buffer type)."""
    big = 6 * 10**18  # three of these cross 2^63
    df = spark.createDataFrame([(big,), (big,), (big,)], "c long")
    got = (
        df.agg(
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
    )
    assert int(got) == 3 * big
