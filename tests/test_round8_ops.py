"""Round-8 operator invariants: the bucketed co-located join's
no-Exchange plan property, the interval join's count-once exactness
vs brute force, BFS vs brute-force shortest paths, and the PIT join's
no-future-leakage contract."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from broadway_spark.operators import layout as LY

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_plans_without_exchange(spark, tmp_path):
    """Two tables bucketed the same way on the join key must join with
    ZERO Exchange below the join (the write paid the shuffle); only
    the post-join aggregate may shuffle. Broadcast is disabled so the
    bucketed sort-merge path is the one proven — with it enabled a
    small side would broadcast and the property would be vacuous."""
    li = entry._t(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = entry._t(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    LY.write_bucketed(
        li, "t8_b_li", str(tmp_path / "li"), ["l_orderkey"], 8
    )
    LY.write_bucketed(
        od, "t8_b_od", str(tmp_path / "od"), ["o_orderkey"], 8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("t8_b_li")
            .join(
                spark.table("t8_b_od"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Bucketed: true") == 2, plan
    # exactly ONE exchange: the post-join aggregate. The join inputs
    # read pre-bucketed data.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    agg_input, join_section = plan.split("SortMergeJoin", 1)
    assert "Exchange" not in join_section, join_section


def test_bucketed_join_matches_plain_join(spark, tmp_path):
    li = entry._t(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = entry._t(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    LY.write_bucketed(
        li, "t8_c_li", str(tmp_path / "li"), ["l_orderkey"], 8
    )
    LY.write_bucketed(
        od, "t8_c_od", str(tmp_path / "od"), ["o_orderkey"], 8
    )
    bucketed = (
        spark.table("t8_c_li")
        .join(
            spark.table("t8_c_od"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .count()
    )
    plain = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .count()
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_interval_overlap_matches_brute_force(spark):
    """The binned count-once join must equal the quadratic truth on
    the real interval set — every overlapping pair counted exactly
    once, none missed across bin boundaries."""
    iv = entry._ij_intervals(spark, SF).collect()
    from collections import defaultdict

    by_supp = defaultdict(list)
    for r in iv:
        by_supp[r["suppkey"]].append(r)
    expected = {}
    for sk, rows in by_supp.items():
        n = 0
        for i in range(len(rows)):
            for j in range(len(rows)):
                a, b = rows[i], rows[j]
                if a["iid"] < b["iid"] and a["s"] <= b["e"] and b["s"] <= a["e"]:
                    n += 1
        if n:
            expected[sk] = n
    got = {
        r["suppkey"]: r["n_pairs"]
        for r in entry.q_ij1_interval_overlap(spark, SF).collect()
    }
    assert got == expected


def test_bfs_matches_brute_force_shortest_paths(spark):
    """Frontier BFS distances must equal Dijkstra-on-unit-weights
    (plain BFS) on the same edge set, capped at BFS_MAX_DEPTH."""
    rows = entry.q_graph_bfs(spark, SF).collect()
    got = {r["p_partkey"]: r["dist"] for r in rows}
    # rebuild the edge set exactly as the query does
    bi = (
        entry._t(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    from collections import defaultdict, deque

    orders = defaultdict(list)
    for r in bi:
        orders[r["l_orderkey"]].append(r["l_partkey"])
    co = defaultdict(int)
    for parts in orders.values():
        ps = sorted(set(parts))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                co[(ps[i], ps[j])] += 1
    adj = defaultdict(set)
    for (u, v), c in co.items():
        if c >= entry.BFS_MIN_CO:
            adj[u].add(v)
            adj[v].add(u)
    seeds = sorted(n for n in adj if n % entry.BFS_SEED_MOD == 0)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= entry.BFS_MAX_DEPTH:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    assert got == dist


def test_pit_join_never_leaks_future_versions(spark):
    """Every matched dimension version must start at-or-before its
    fact's timestamp, and must be the LATEST such version — the
    point-in-time contract (no future leakage, no stale skip)."""
    out = {
        r["purchase_id"]: r["dim_event_id"]
        for r in entry.q_cdc_pit_join(spark, SF).collect()
    }
    ev = entry._t(spark, SF, "events").collect()
    dims = [r for r in ev if r["event_type"] in ("signup", "view")]
    facts = [r for r in ev if r["event_type"] == "purchase"]
    for f in facts:
        cands = [
            d
            for d in dims
            if d["user_id"] == f["user_id"] and d["ts"] <= f["ts"]
        ]
        want = (
            max(cands, key=lambda d: (d["ts"], d["event_id"]))["event_id"]
            if cands
            else None
        )
        assert out[f["event_id"]] == want, f["event_id"]


def _skewed_pair(spark):
    left = (
        spark.range(0, 2_000_000)
        .select(F.lit(0).alias("k"), F.col("id").alias("v"))
        .unionAll(
            spark.range(0, 200_000).select(
                (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
            )
        )
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    return left, right


def _with_skew_confs(spark):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return prev


def _restore_confs(spark, prev):
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The AQE skew-join safety net the 100 TB story leans on,
    PROVEN at runtime: one join key holding ~90% of the left side is
    split by OptimizeSkewedJoin (SortMergeJoin(skew=true) in the
    final adaptive plan) when nothing downstream needs the join's
    output partitioning. Broadcast is disabled on both the static and
    adaptive paths — otherwise the tiny dim side broadcasts and the
    skew never reaches a shuffled join (which is itself the right
    adaptive outcome, but vacuous for this proof)."""
    prev = _with_skew_confs(spark)
    try:
        left, right = _skewed_pair(spark)
        j = left.join(right, "k").select(
            F.sum(F.col("v") + F.col("w")).alias("s")
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        _restore_confs(spark, prev)
    assert "skew=true" in plan, plan[:2000]


def test_keyed_downstream_agg_suppresses_skew_split(spark):
    """The documented LIMIT of the AQE safety net: when the join feeds
    an aggregation keyed on the join key, splitting the skewed
    partition would break the co-partitioning the agg requires, so
    OptimizeSkewedJoin declines — the skewed task runs whole. This is
    exactly the shape where explicit salting
    (operators/skew.py::salted_aggregate) is the right tool, and why
    the engine ships it despite AQE."""
    prev = _with_skew_confs(spark)
    try:
        left, right = _skewed_pair(spark)
        j = (
            left.join(right, "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.sum("n").alias("s"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        _restore_confs(spark, prev)
    assert "skew=true" not in plan
