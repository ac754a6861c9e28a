"""Round-7 operator invariants: the manifest-committed streaming
upsert sink's exactly-once contract under replay and crash-before-
commit, and the graph queries' physical-plan shapes (shuffle-hash
joins for the fat wedge/rank joins, no cartesian anywhere).
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def sink(spark):
    base = tempfile.mkdtemp(prefix="bw_t7_")
    target = os.path.join(base, "target")
    os.makedirs(target)
    upsert, read_current = entry._manifest_upsert_sink(spark, target)
    yield upsert, read_current, target, spark
    shutil.rmtree(base, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )


def _totals(read_current):
    got = {
        r["user_id"]: (r["n"], float(r["spend"]))
        for r in read_current().collect()
    }
    return got


def test_upsert_merges_across_batches(sink):
    upsert, read_current, _target, spark = sink
    upsert(_batch(spark, [(1, "purchase", 10.0), (2, "purchase", 5.0)]), 0)
    upsert(_batch(spark, [(1, "purchase", 2.5), (3, "click", 99.0)]), 1)
    assert _totals(read_current) == {1: (2, 12.5), 2: (1, 5.0)}


def test_upsert_replay_after_commit_is_noop(sink):
    """Checkpoint replay of an already-committed batch (same id) must
    not double-merge: the manifest last_batch guard."""
    upsert, read_current, _target, spark = sink
    b0 = _batch(spark, [(1, "purchase", 10.0)])
    upsert(b0, 0)
    upsert(b0, 0)  # replay
    assert _totals(read_current) == {1: (1, 10.0)}


def test_upsert_crash_before_commit_then_replay(sink, monkeypatch):
    """Simulated crash AT the atomic manifest replace: the batch has
    fully staged its merged version dirs, but the commit (and the
    post-commit prune) never happens. The replay must re-merge from
    the OLD versions and overwrite the orphan stage — the exact
    window where a publish-then-marker design double-merges."""
    upsert, read_current, target, spark = sink
    upsert(_batch(spark, [(1, "purchase", 10.0)]), 0)
    b1 = _batch(spark, [(1, "purchase", 2.5)])
    real_replace = os.replace

    def dying_replace(src, dst):
        raise RuntimeError("simulated crash at commit")

    monkeypatch.setattr(os, "replace", dying_replace)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert(b1, 1)  # stages _v1, dies before the manifest commit
    monkeypatch.setattr(os, "replace", real_replace)
    assert os.path.isdir(os.path.join(target, "_v1"))  # orphan stage
    upsert(b1, 1)  # checkpoint replays batch 1
    assert _totals(read_current) == {1: (2, 12.5)}


def test_upsert_empty_batch_advances_watermark(sink):
    upsert, read_current, _target, spark = sink
    upsert(_batch(spark, [(7, "click", 1.0)]), 0)  # no purchases
    upsert(_batch(spark, [(7, "purchase", 3.0)]), 1)
    upsert(_batch(spark, []), 0)  # stale replay of batch 0 → skipped
    assert _totals(read_current) == {7: (1, 3.0)}


def test_upsert_prunes_superseded_versions(sink):
    """After each commit only manifest-referenced version dirs remain
    (plus the latest stage parents) — a long-running stream must not
    accumulate dead snapshots."""
    upsert, read_current, target, spark = sink
    for i in range(4):
        upsert(_batch(spark, [(1, "purchase", 1.0)]), i)
    import json

    man = json.load(open(os.path.join(target, "manifest.json")))
    live = {os.path.join(target, v) for v in man["buckets"].values()}
    bucket_dirs = set()
    for root, dirs, _files in os.walk(target):
        for d in dirs:
            if d.startswith("bucket="):
                bucket_dirs.add(os.path.join(root, d))
    assert bucket_dirs == live
    assert _totals(read_current) == {1: (4, 4.0)}


def test_graph_triangles_plan_uses_shuffle_hash_no_cartesian(spark):
    plan = _plan(entry.q_graph_triangles(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_pagerank_plan_uses_shuffle_hash_no_cartesian(spark):
    plan = _plan(entry.q_graph_pagerank(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_edge_strength_invariants(spark):
    """Per-edge common-neighbor counts are bounded by the smaller
    endpoint degree minus one (the other endpoint is always a
    neighbor but never its own common neighbor), Jaccard stays in
    [0, 1e6] ppm, ranks are 1..k without gaps, and the plan uses
    shuffle-hash joins with no cartesian."""
    df = entry.q_graph_edge_strength(spark, SF)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows, "no embedded edges found at this SF"
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1)) or {
        r["rk"] for r in rows
    } == set(range(1, len(rows) + 1))
    for r in rows:
        assert 0 <= r["jacc_ppm"] <= 1_000_000
        assert 1 <= r["common"] <= min(r["du"], r["dv"]) - 1


def test_ds8_single_fact_scan(spark):
    """q88's textbook form is eight scalar-subquery scans; ours must
    plan exactly ONE scan of events."""
    plan = _plan(entry.q_ds8_time_bands(spark, SF))
    assert plan.count("FileScan parquet") == 1


def test_ds9_one_expand_broadcast_part(spark):
    plan = _plan(entry.q_ds9_rollup_topk(spark, SF))
    assert plan.count("Expand") == 1
    assert "BroadcastHashJoin" in plan


def test_filter_report_no_explode_single_scan(spark):
    """All three quality flags must stay per-row codegen: no Generate
    (explode) operator, one documents scan, no shuffle before the
    final group-by exchange."""
    plan = _plan(entry.q_pipeline_filter_report(spark, SF))
    assert "Generate" not in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1


def test_ks_audit_single_scan_windows_after_agg(spark):
    """The cumulative windows must run over the ~50 aggregated bucket
    rows, not fact rows: one lineitem scan, and the Window operators
    sit above the final HashAggregate."""
    plan = _plan(entry.q_sample_ks_audit(spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:]


def test_triangle_totals_consistent(spark):
    """Σ per-vertex counts = 3 × total triangles, and the reported
    total matches an independent brute-force count on the tiny SF."""
    rows = entry.q_graph_triangles(spark, SF).collect()
    total = next(r["n"] for r in rows if r["kind"] == "triangles")
    vertex_sum = sum(r["n"] for r in rows if r["kind"] == "vertex")
    assert vertex_sum <= 3 * total  # top-k is a subset of all vertices
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    pp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    e = (
        pp.alias("a")
        .join(
            pp.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    brute = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .count()
    )
    assert total == brute


def test_bm25_invariants_and_plan(spark):
    """Per query: ranks are a dense 1..k prefix ordered by
    (score desc, doc_id); scores positive (every query term appears in
    <N docs so Lucene idf > 0). Plan: the query-term join broadcasts
    the tiny side, and no cartesian beyond the broadcast 1-row stats
    join."""
    df = entry.q_text_bm25_topk(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {q for q, _ in entry.BM25_QUERIES}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= entry.BM25_TOPK
        for a, b in zip(rs, rs[1:]):
            assert (a["score_micro"], -a["doc_id"]) >= (
                b["score_micro"],
                -b["doc_id"],
            )
        assert all(r["score_micro"] > 0 for r in rs)


def test_semantic_dedup_star_keeper_per_cluster(spark):
    """SemDeDup verdicts: one row per vector, kept∈{0,1}, and the
    lowest-id member of every cluster is always kept (the star rule
    cannot remove a vector with no lower-id neighbor). No cartesian:
    the pair join is an equi-join on the cluster id."""
    df = entry.q_dedup_semantic(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    rows = df.collect()
    n_vec = (
        spark.read.parquet(f"{SF}/embeddings.parquet").count()
    )
    assert len(rows) == n_vec
    assert {r["kept"] for r in rows} <= {0, 1}
    by_cl = {}
    for r in rows:
        by_cl.setdefault(r["cluster_id"], []).append(r)
    for cl, rs in by_cl.items():
        low = min(rs, key=lambda r: r["vec_id"])
        assert low["kept"] == 1, f"cluster {cl} lowest id was removed"
    assert any(r["kept"] == 0 for r in rows), "no duplicates found at all"


def test_dq_audit_invariants_and_plan(spark):
    """The audit returns exactly the ten declared checks with sane
    counts: violations never exceed rows checked, every n_checked
    matches the underlying table's count, and the known-clean checks
    (referential orphans, discount bounds, empty docs) report zero
    while the known-dirty synthetic defects (dup line PKs,
    ship-before-order) report nonzero. Plan: no cartesian beyond the
    broadcast 1-row assembly joins."""
    df = entry.q_pipeline_dq_audit(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    rows = {r["check_id"]: r for r in df.collect()}
    assert sorted(rows) == list(range(1, 11))
    li_n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    ord_n = spark.read.parquet(f"{SF}/orders.parquet").count()
    for r in rows.values():
        assert 0 <= r["n_violations"] <= r["n_checked"]
    assert rows[1]["n_checked"] == li_n
    assert rows[6]["n_checked"] == ord_n
    # clean dimensions stay clean...
    for cid in (1, 4, 5, 9, 10):
        assert rows[cid]["n_violations"] == 0, rows[cid]
    # ...and the generator's known irregularities are detected.
    for cid in (2, 3):
        assert rows[cid]["n_violations"] > 0, rows[cid]


def test_fuzzy_names_exact_within_blocks(spark):
    """The blocked fuzzy join must return EXACTLY the brute-force
    within-block pair set (blocking is the declared recall boundary;
    inside a block no pair may be lost), canonically ordered with
    distances in (0, 3]."""
    df = entry.q_j4_fuzzy_names(spark, SF)
    got = {(r["name_a"], r["name_b"], r["dist"]) for r in df.collect()}
    names = [
        r["p_name"]
        for r in spark.read.parquet(f"{SF}/part.parquet")
        .select("p_name")
        .distinct()
        .collect()
    ]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(a, b))
        for a in names
        for b in names
        if a < b
        and a.split(" ")[0] == b.split(" ")[0]
        and lev(a, b) <= 3
    }
    assert got == want
    assert all(0 < d <= 3 for _, _, d in got)


def test_redaction_invariants_and_plan(spark):
    """Counts are internally consistent (touched ≤ docs, ppm ≤ 1e6,
    some spans actually found) and the scrub is ONE codegen corpus
    scan — no Generate, a single exchange for the source group-by."""
    df = entry.q_pipeline_redaction(spark, SF)
    plan = _plan(df)
    assert "Generate" not in plan
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1
    rows = df.collect()
    assert sum(r["spans_total"] for r in rows) > 0
    for r in rows:
        assert 0 <= r["docs_touched"] <= r["n_docs"]
        assert 0 <= r["redacted_ppm"] <= 1_000_000
        assert r["spans_total"] <= r["tokens_total"]


def test_collocations_lift_recomputes(spark):
    """Each reported lift_ppm must equal the exact integer ppm of
    n_ab·N/(n_a·n_b) recomputed from the returned integer counts and
    an independent token total (r12 numeric policy: integer ratios
    publish as truncated ppm, never a 6dp round), and rank order must
    follow (lift_ppm desc, bigram asc)."""
    rows = entry.q_text_collocations(spark, SF).collect()
    assert rows, "no collocations returned"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_total = docs.select(
        F.sum(F.size(F.split(F.lower("text"), " ")))
    ).collect()[0][0]
    for r in rows:
        expect = r["n_ab"] * n_total * 1_000_000 // (r["n_a"] * r["n_b"])
        assert r["lift_ppm"] == expect, r
    ordered = sorted(rows, key=lambda r: (-r["lift_ppm"], r["bigram"]))
    assert [r["rk"] for r in ordered] == list(range(1, len(rows) + 1))


def test_split_safe_clusters_never_straddle(spark):
    """The leakage guard itself: recompute per-doc assignments and
    assert every near-dup cluster lands in exactly one split, and the
    aggregate matches the query's totals."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = entry.D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=entry.MINHASH_NUM,
        bands=entry.MINHASH_BANDS,
        threshold=entry.MINHASH_THRESHOLD,
        shingle_k=entry.MINHASH_K,
    )
    labels = entry.D.near_dup_labels(pairs)
    per_doc = (
        docs.join(labels, docs.doc_id == labels.id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep"),
        )
        .withColumn(
            "bk",
            F.expr(
                "CAST(conv(substring(md5(concat('split:',"
                " CAST(rep AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100"
            ),
        )
        .withColumn(
            "split",
            F.when(F.col("bk") < 90, "train")
            .when(F.col("bk") < 95, "val")
            .otherwise("test"),
        )
        .collect()
    )
    by_rep = {}
    for r in per_doc:
        by_rep.setdefault(r["rep"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_rep.values()), "cluster straddles"
    agg = {
        r["split"]: r
        for r in entry.q_sample_split_safe(spark, SF).collect()
    }
    from collections import Counter

    n_by_split = Counter(r["split"] for r in per_doc)
    assert {k: v["n_docs"] for k, v in agg.items()} == dict(n_by_split)


def test_lang_confusion_rows_partition_corpus(spark):
    """Confusion cells partition the corpus (Σn = doc count) and each
    true language's recall shares sum to ≤ 1e6 ppm (floor division
    loses at most |cells| ppm per language)."""
    rows = entry.q_text_lang_confusion(spark, SF).collect()
    docs_n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n"] for r in rows) == docs_n
    from collections import defaultdict

    per_lang = defaultdict(int)
    for r in rows:
        per_lang[r["lang"]] += r["recall_ppm"]
    for lang, total in per_lang.items():
        assert total <= 1_000_000, (lang, total)
        assert total > 900_000, (lang, total)


def test_retain_history_keeps_superseded_versions(sink, spark):
    """retain_history=True must leave every committed version dir
    readable after later commits touch the same buckets (the
    time-travel contract s23 relies on)."""
    import glob
    import json

    _, _, target, spark_ = sink
    upsert, read_current = entry._manifest_upsert_sink(
        spark_, target, retain_history=True
    )
    upsert(_batch(spark_, [(1, "purchase", 10.0), (2, "purchase", 5.0)]), 0)
    with open(os.path.join(target, "manifest.json")) as fh:
        man0 = json.load(fh)
    paths0 = [os.path.join(target, v) for v in man0["buckets"].values()]
    upsert(_batch(spark_, [(1, "purchase", 1.0), (3, "purchase", 2.0)]), 1)
    # superseded bucket dirs still on disk and readable
    for p in paths0:
        assert os.path.isdir(p), p
    old = {
        r["user_id"]: r["spend"]
        for r in spark_.read.parquet(*paths0).collect()
    }
    assert float(old[1]) == 10.0  # pre-merge snapshot value preserved
    new = {r["user_id"]: r for r in read_current().collect()}
    assert float(new[1]["spend"]) == 11.0 and new[1]["n"] == 2
    assert set(new) == {1, 2, 3}


def test_zorder_buckets_partition_and_localize(spark):
    """Bucket counts must sum to the table, extents must nest inside
    the global range, and z-locality must bite: the MEDIAN bucket's
    partkey extent is far below the global extent (each z bucket
    spans 2^3 of the 2^8 grid cells per dimension)."""
    rows = entry.q_pack_zorder(spark, SF).collect()
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n_total = li.count()
    assert sum(r["n"] for r in rows) == n_total
    g = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    pk_span = g[1] - g[0]
    extents = sorted(r["pk_max"] - r["pk_min"] for r in rows)
    median_extent = extents[len(extents) // 2]
    assert median_extent <= pk_span / 4, (median_extent, pk_span)
    for r in rows:
        assert g[0] <= r["pk_min"] <= r["pk_max"] <= g[1]
        assert g[2] <= r["sk_min"] <= r["sk_max"] <= g[3]


def test_journey_patterns_brute_force(spark):
    """Pattern user-counts must equal a Python re recomputation over
    journeys rebuilt from raw events."""
    import re as _re
    from collections import defaultdict

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    seq = defaultdict(list)
    for r in ev:
        seq[r["user_id"]].append((r["ts"], r["event_id"],
                                  r["event_type"][0]))
    journeys = {
        u: "".join(i for _, _, i in sorted(v)) for u, v in seq.items()
    }
    got = {
        r["pattern"]: r["n_users"]
        for r in entry.q_evt_journey_patterns(spark, SF).collect()
    }
    for name, pat in entry.JOURNEY_PATTERNS:
        want = sum(1 for j in journeys.values() if _re.search(pat, j))
        assert got[name] == want, (name, got[name], want)


def test_profile_matches_dataframe_stats(spark):
    """Profiler rows must agree with direct DataFrame aggregates."""
    rows = {
        r["column_name"]: r
        for r in entry.q_pipeline_profile(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n = li.count()
    assert all(r["n_rows"] == n for r in rows.values())
    assert rows["l_returnflag"]["n_distinct"] == (
        li.select("l_returnflag").distinct().count()
    )
    assert rows["l_quantity"]["min_num"] == round(
        li.agg(F.min("l_quantity")).collect()[0][0], 2
    )
    assert rows["l_returnflag"]["min_num"] is None
    assert rows["l_quantity"]["min_str"] is None


def test_incremental_lsh_is_mixed_subset_of_symmetric(spark):
    """The asymmetric ingest-vs-archive matcher must return exactly
    the symmetric pair set restricted to (new × corpus) pairs,
    reoriented — no corpus×corpus or new×new pair may ever appear."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sym = entry.D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=entry.MINHASH_NUM,
        bands=entry.MINHASH_BANDS,
        threshold=entry.MINHASH_THRESHOLD,
        shingle_k=entry.MINHASH_K,
    ).collect()
    want = set()
    for r in sym:
        a_new, b_new = r["id_a"] % 10 == 0, r["id_b"] % 10 == 0
        if a_new != b_new:
            new_id = r["id_a"] if a_new else r["id_b"]
            cor_id = r["id_b"] if a_new else r["id_a"]
            want.add((new_id, cor_id, r["jaccard_ppm"]))
    got = {
        (r["new_id"], r["corpus_id"], r["jaccard_ppm"])
        for r in entry.q_dedup_incremental_lsh(spark, SF).collect()
    }
    assert got == want
    assert all(n % 10 == 0 and c % 10 != 0 for n, c, _ in got)


def test_profile_split_agg_plan(spark):
    """The profiler must keep its two-aggregate split: exactly ONE
    Expand (the distinct-only agg), with the plain metrics never
    routed through it (the 15s->3s fix)."""
    plan = _plan(entry.q_pipeline_profile(spark, SF))
    assert plan.count("Expand") == 1
    assert "CartesianProduct" not in plan


def test_simhash_pairs_plan_and_verify(spark):
    """Band candidates must come from an equi-join (never cartesian),
    and every returned pair must verify ham<=3 against independently
    recomputed signatures."""
    df = entry.q_dedup_simhash_pairs(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert rows, "no simhash pairs found"
    sig = {
        r["__id"]: r["simhash"]
        for r in entry.D.simhash_table(
            spark.read.parquet(f"{SF}/documents.parquet"),
            "doc_id",
            "text",
            bits=entry.SIMHASH_BITS,
            seed=entry.SIMHASH_SEED,
        ).collect()
    }
    for r in rows:
        ham = bin(sig[r["id_a"]] ^ sig[r["id_b"]]).count("1")
        assert ham == r["hamming"] and ham <= entry.SIMHASH_PAIR_MAXHAM


def test_skew_kurtosis_matches_numpy(spark):
    """Moments must agree with a float recomputation over raw values
    (1e-5 tolerance covers the decimal-vs-float path difference)."""
    import math
    from collections import defaultdict

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type", "value"
    ).collect()
    groups = defaultdict(list)
    for r in ev:
        groups[r["event_type"]].append(round(r["value"], 2))
    got = {
        r["event_type"]: r
        for r in entry.q_agg_skew_kurtosis(spark, SF).collect()
    }
    for et, vals in groups.items():
        n = len(vals)
        mu = sum(vals) / n
        m2 = sum((v - mu) ** 2 for v in vals) / n
        m3 = sum((v - mu) ** 3 for v in vals) / n
        m4 = sum((v - mu) ** 4 for v in vals) / n
        assert abs(got[et]["skewness"] - m3 / m2**1.5) < 1e-5
        assert abs(got[et]["kurtosis"] - (m4 / m2**2 - 3)) < 1e-5
        assert got[et]["n_events"] == n


def test_write_zordered_files_have_narrow_extents(spark, tmp_path):
    """The write-side z-order claim: after write_zordered on
    (l_partkey, l_suppkey), per-file extents on BOTH keys sit well
    below the global range (a plain write gives every file ~the full
    span, so nothing prunes). repartitionByRange cuts at row-count
    quantiles, not Morton cell boundaries, so a file straddling a
    quantile cut can straddle a top Morton bit and cover the full
    span — assert the MEDIAN extent ≤ 0.6×span and the MEAN ≤
    0.7×span on each dimension (the expected-files-skipped metric a
    stats-pruning reader actually sees)."""
    from broadway_spark.operators import layout as L

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "zordered")
    L.write_zordered(li, "l_partkey", "l_suppkey", path, n_files=8)
    ext = L.file_extents(spark, path, ["l_partkey", "l_suppkey"]).collect()
    assert len(ext) >= 4  # repartitionByRange may merge tiny ranges
    g = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    pk_span, sk_span = g[1] - g[0], g[3] - g[2]
    n_total = li.count()
    assert sum(r["n"] for r in ext) == n_total  # lossless rewrite
    for col, span in (("l_partkey", pk_span), ("l_suppkey", sk_span)):
        extents = sorted(
            r[f"{col}_max"] - r[f"{col}_min"] for r in ext
        )
        assert extents[len(extents) // 2] <= 0.6 * span, (col, extents)
        assert sum(extents) / len(extents) <= 0.7 * span, (col, extents)


def test_kcore_monotone_and_k_is_median_degree(spark):
    """Peeling must be monotone (alive and edge counts non-increasing
    by round) and k must equal the median degree recomputed in
    Python; round 1 must count exactly the vertices with deg >= k."""
    from collections import defaultdict

    rows = sorted(
        entry.q_graph_kcore(spark, SF).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == list(
        range(1, entry.KCORE_ROUNDS + 1)
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_alive"] <= a["n_alive"]
        assert b["n_edges"] <= a["n_edges"]
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    pairs = {
        (r["ok"], r["pk"])
        for r in li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct().collect()
    }
    by_order = defaultdict(set)
    for ok, pk in pairs:
        by_order[ok].add(pk)
    adj = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                adj[u].add(v)
                adj[v].add(u)
    degs = sorted(len(v) for v in adj.values())
    k = degs[(len(degs) + 1) // 2 - 1]
    assert rows[0]["k"] == k
    assert rows[0]["n_alive"] == sum(1 for d in degs if d >= k)
