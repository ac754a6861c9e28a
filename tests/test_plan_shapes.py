"""Physical-plan audits: the 100 TB contracts, asserted.

Correctness says *what* a query returns; these tests pin *how*:
filters reach the parquet scan, projections prune columns, small dims
broadcast, aggregates keep map-side partial phases. A regression here
is a 100× slowdown at cluster scale that no correctness test would
catch.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# The registry-wide sweeps (cartesian, quadratic frames, un-partitioned
# windows) each need every query's physical plan — and building a
# drain query's plan RUNS the drain. Share one plan snapshot across
# all sweeps instead of re-executing the registry per sweep.
_PLAN_CACHE: dict = {}


def _registry_plans(spark) -> dict:
    if not _PLAN_CACHE:
        for name, fn in entry.queries().items():
            _PLAN_CACHE[name] = _plan(fn(spark, SF))
    return _PLAN_CACHE


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """h6: the discount/quantity filters must appear as PushedFilters
    in the parquet scan, not as a post-scan Filter only."""
    df = entry.q_h6_revenue(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_discount" in plan.split("PushedFilters:")[1][:300]


def test_column_pruning_in_scan(spark):
    """p2_map projects 7 expressions from 16 lineitem columns: the scan
    must read only the needed ones."""
    df = entry.q_p2_map(spark, SF)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema  # unused column pruned
    assert "l_tax" not in read_schema


def test_broadcast_join_for_small_dims(spark):
    """p1_enrich: customer and nation are dimensions — both joins must
    be broadcast, never sort-merge (no big shuffle on the fact side)."""
    df = entry.q_p1_enrich(spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_present(spark):
    """s1/x4: hash aggregates must have a partial (map-side) phase so
    the shuffle carries group aggregates, not raw rows."""
    df = entry.q_x4_batch_key(spark, SF)
    plan = _plan(df)
    # partial + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2


def test_semi_join_not_materialized(spark):
    """h4: EXISTS compiles to a semi join (no duplicate explosion)."""
    df = entry.q_h4_priority_exists(spark, SF)
    plan = _plan(df)
    assert "Semi" in plan


def test_ann_broadcasts_query_side(spark):
    """ANN: the query set must broadcast; the corpus side streams."""
    df = entry.q_sim_ann_bruteforce(spark, SF)
    plan = _plan(df)
    assert "Broadcast" in plan


def test_minhash_no_cartesian(spark):
    """LSH candidate generation must be an equi-join on band keys —
    a cartesian/BNL join here would be O(n²) at scale."""
    df = entry.q_dedup_minhash(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_on_hot_path(spark):
    """The scalar-transform suite must run inside WholeStageCodegen."""
    df = entry.q_p2_map(spark, SF)
    plan = _plan(df)
    # codegen'd operators are prefixed "*(n)" in the plan string
    assert "*(1)" in plan


def test_asof_join_single_shuffle_no_join(spark):
    """aj1: the as-of join must compile to union + ONE keyed exchange +
    window — no Join operator at all (the formulation that survives
    100 TB; a range/theta join here would explode)."""
    df = entry.q_aj1_asof_clicks(spark, SF)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Union" in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Window" in plan


def test_hll_two_level_aggregation(spark):
    """HLL: register build must be a hash aggregate with a map-side
    partial phase (mergeable sketch), never a sort-based fallback."""
    df = entry.q_sketch_hll_users(spark, SF)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 levels
    assert "CartesianProduct" not in plan


def test_ivf_broadcasts_centroids_and_queries(spark):
    """IVF: both the centroid table (assignment pass) and the probed
    query set must broadcast; the corpus side must never be the build
    side of a shuffle join."""
    df = entry.q_sim_ann_ivf(spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 1  # centroid cross
    assert "SortMergeJoin" not in plan


def test_sessionize_native_session_window(spark):
    """w3: sessionization must use the native session-window aggregate
    (streaming-capable state layout), one shuffle on the user key."""
    df = entry.q_w3_sessions(spark, SF)
    plan = _plan(df)
    assert "session_window" in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_follow_within_is_equi_join(spark):
    """rj1: the bounded range self-join must compile to a hash-
    partitioned equi-join on (key, time-bucket) — never a
    BroadcastNestedLoopJoin/CartesianProduct theta join, which is the
    formulation that dies at 100 TB."""
    df = entry.q_rj1_follow_pairs(spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # keyed equi-join on (user_id, bucket); at test SF the build side is
    # tiny so Spark picks BroadcastHashJoin — any *hash-keyed* join is
    # the contract (AQE upgrades to SMJ/SHJ when both sides are large)
    assert (
        "BroadcastHashJoin [user_id" in plan
        or "SortMergeJoin [user_id" in plan
        or "ShuffledHashJoin [user_id" in plan
    )


def test_h2_correlated_subquery_as_single_window(spark):
    """h2: the correlated scalar subquery must be one window pass over
    the customer partition — no self-join, no per-row subquery."""
    df = entry.q_h2_above_avg(spark, SF)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1


def test_cube_single_expand_one_shuffle(spark):
    """r2: CUBE computes all 4 grouping sets via one Expand + one
    aggregation — the input is scanned once, not once per set."""
    df = entry.q_r2_cube(spark, SF)
    plan = _plan(df)
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_salted_agg_two_phase_shape(spark):
    """skew_salted_agg: exactly two keyed exchanges — (key, salt) then
    (key) — each with map-side partial aggregation; the hot key is
    spread over salt_n reducers in phase one."""
    df = entry.q_skew_salted_agg(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") >= 4


def test_jaccard_prefix_filter_no_quadratic_join(spark):
    """text_jaccard_pairs (prefix filtering): the candidate join must
    be an equi-join keyed on the prefix token — a cartesian or
    broadcast-nested-loop join here is the quadratic-block shape the
    operator exists to avoid."""
    df = entry.q_text_jaccard_pairs(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the verify stage reads full token arrays only for surviving
    # candidate pairs — via joins, never a self cross-product
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + \
        plan.count("BroadcastHashJoin") >= 3


def test_corpus_clean_shuffles_fingerprint_not_text(spark):
    """pipeline_corpus_clean: the dedup aggregate must key on the md5
    fingerprint; the document text may never survive into an exchange
    (at 100 TB the shuffle would carry the whole corpus)."""
    df = entry.q_pipeline_corpus_clean(spark, SF)
    plan = _plan(df)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), f"text in shuffle key: {m.group(0)}"
    # both aggregates keep map-side partial phases
    assert plan.count("partial_") >= 1 or "HashAggregate" in plan


def test_decontaminate_broadcasts_benchmark_no_lambda(spark):
    """text_decontaminate: the benchmark shingle set joins as a
    BROADCAST (the corpus is never shuffled against it), and the
    shingle construction stays on the codegen path — no interpreted
    higher-order-function transform() in the corpus hot path."""
    df = entry.q_text_decontaminate(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # shingle_rows gathers k-grams with lead() windows, not transform()
    assert "transform(sequence" not in plan


def test_pack_sequences_distributed_prefix_sum(spark):
    """pack_sequences: greedy token packing runs on the distributed
    prefix-sum core — the corpus-wide running window must be
    partitioned by (__cb_pid, lang), never lang alone (two media
    types / a handful of languages would funnel the corpus through
    |keys| tasks); the per-block offsets join back as a BROADCAST
    (never a shuffle join of the corpus); the document text never
    enters an exchange."""
    df = entry.q_pack_sequences(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)
    # the full-width running window carries the block pid
    corpus_windows = [
        line
        for line in plan.splitlines()
        if re.sub(r"^[\s:+\-*(]+", "", line).startswith("Window ")
        and "__cb_pid" in line
    ]
    assert corpus_windows, "running window must partition on __cb_pid"


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive-style partitioned layout (the 100 TB table design): a
    filter on the partition column must prune at PLANNING time —
    PartitionFilters on the scan, non-matching partition directories
    never read. At cluster scale this is the difference between
    scanning one partition and scanning the lake."""
    src = entry._t(spark, SF, "events")
    path = str(tmp_path / "events_by_type")
    src.write.partitionBy("event_type").mode("overwrite").parquet(path)

    df = (
        spark.read.parquet(path)
        .filter("event_type = 'purchase'")
        .select("event_id", "value")
    )
    plan = _plan(df)
    pf = plan.split("PartitionFilters:")[1][:200]
    assert "event_type" in pf and "purchase" in pf
    # the data filter list must NOT carry the partition predicate —
    # pruning happened in the metadata phase, not per-row
    assert df.count() == src.filter("event_type = 'purchase'").count()


def test_h9_dimensions_broadcast_facts_shuffle(spark):
    """h9_profit: part/supplier/nation joins must be broadcast (no
    fact-table shuffle for dimensions); only the lineitem⋈orders fact
    join may shuffle. No cartesian products anywhere."""
    plan = _plan(entry.q_h9_profit(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_h21_single_window_pass_no_self_joins(spark):
    """h21_waiting: the exists/not-exists pair must be ONE window pass
    over the joined spine — exactly one lineitem scan, no correlated
    self-joins of the fact table."""
    plan = _plan(entry.q_h21_waiting(spark, SF))
    assert plan.count("lineitem") <= plan.count("Scan parquet")  # sanity
    # one lineitem scan only
    import re

    li_scans = len(re.findall(r"Scan parquet[^\n]*lineitem", plan))
    assert li_scans == 1, f"expected 1 lineitem scan, got {li_scans}"
    assert "CartesianProduct" not in plan


def test_evt_zscore_single_shuffle_window_then_agg(spark):
    """evt_zscore: the windowed sums and the final groupBy share the
    user_id hash partitioning — exactly one exchange."""
    plan = _plan(entry.q_evt_zscore(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_range_search_broadcasts_query_side(spark):
    """sim_range_search: the query side is broadcast; the corpus is
    scanned once and never shuffled."""
    plan = _plan(entry.q_sim_range_search(spark, SF))
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan


def test_top_terms_partial_agg_before_shuffle(spark):
    """text_top_terms: the (lang, token) count must keep its map-side
    partial phase so the shuffle carries partial counts, not raw
    tokens."""
    plan = _plan(entry.q_text_top_terms(spark, SF))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + window


def test_passage_dedup_shuffles_fingerprint_not_passage(spark):
    """dedup_passage: the first-occurrence window keys on the md5
    fingerprint; neither the passage string nor the document text may
    reach an exchange (same 100 TB contract as corpus_clean)."""
    import re

    plan = _plan(entry.q_dedup_passage(spark, SF))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "passage" not in m.group(1) and "text" not in m.group(1), (
            f"raw text in shuffle key: {m.group(0)}"
        )


def test_hist_quantile_partial_agg_before_shuffle(spark):
    """sketch_hist_quantile: bin counts must partial-aggregate map-side
    so the exchange carries (flag, bin) partials, never raw rows —
    the mergeable-summary property the sketch claims."""
    plan = _plan(entry.q_sketch_hist_quantile(spark, SF))
    assert "partial_count" in plan or "partial_" in plan


def test_no_quadratic_window_frames_in_any_query(spark):
    """Sweep EVERY query's plan for (currentRow → unboundedFollowing)
    window frames: Spark evaluates them with
    UnboundedFollowingWindowFunctionFrame, which re-aggregates the
    partition remainder per row — O(n²) per key (ts_interpolate's
    forward fill cost 29 s vs 2 s at sf0.1 until rewritten as a
    reversed running frame). Whole-partition frames (unboundedpreceding
    AND unboundedfollowing) are the specialized O(n) frame and pass."""
    offenders = {}
    for name, plan in _registry_plans(spark).items():
        for line in plan.splitlines():
            if (
                "unboundedfollowing$()" in line
                and "unboundedpreceding$(), unboundedfollowing$()"
                not in line
            ):
                offenders[name] = line.strip()[:160]
                break
    assert not offenders, f"O(n^2) window frames: {offenders}"


def test_top_direction_fold_below_generate(spark):
    """emb_top_direction: the interpreted aggregate() fold must sit
    BELOW the posexplode Generate (computed once per vector), never in
    the post-Generate Project where it re-runs per exploded element."""
    plan = _plan(entry.q_emb_top_direction(spark, SF))
    above_generate = plan.split("Generate")[0]
    assert "aggregate(" not in above_generate, (
        "fold evaluated per exploded row"
    )


def test_no_unguarded_cartesian_in_any_query(spark):
    """Sweep EVERY registered query's physical plan: no
    CartesianProduct anywhere; BroadcastNestedLoopJoin only where a
    deliberately broadcast tiny side makes it the right plan (scalar
    thresholds, query-side ANN fan-out). Locks the invariant for
    queries added in future rounds."""
    BNLJ_OK = {
        # broadcast query/centroid sides (tiny by construction)
        "sim_ann_bruteforce",
        "sim_range_search",
        "sim_ann_ivf",
        "sim_ann_ivfpq",  # broadcast centroid side (cell assignment)
        "sim_pq_recall",  # embeds the brute-force ground truth
        "sim_ivfpq_recall",  # brute-force ground truth + centroids
        "sim_ivfpq_index_merge",  # broadcast centroid side (cell assign)
        "dedup_embedding",
        # 1-row scalar-threshold broadcasts
        "text_tfidf",
        "h22_idle_rich",
        "h11_important",
        "sample_mixture_temperature",  # 1-row normalizer broadcast
        "pipeline_training_mix",  # 1-row normalizer broadcast
        "sample_balanced_classes",  # 1-row min-count broadcast
        "agg_rfm_segments",  # 1-row max-date broadcast
        "text_surprisal",  # 1-row corpus-total broadcast
        "sketch_hll_intersection",  # 1-row exact-count broadcast
        "text_collocations",  # 1-row token-total broadcast
        "pack_zorder",  # 1-row dimension-bounds broadcast
        "pipeline_profile",  # 1-row distinct-agg broadcast (split agg)
        "graph_kcore",  # 1-row adaptive-k broadcast per peel round
        "pipeline_curation_funnel",  # 1-row stage-total broadcasts
        "pipeline_dq_audit",  # broadcast 1-row check-assembly joins
        "text_bm25_topk",  # 1-row corpus-stats (N, avgdl) broadcast
        "skew_advisor",  # 1-row (total, n_keys) broadcast
        "rel_skyline",  # 1-row price-bounds broadcast (range buckets)
        "sim_hybrid_rrf",  # broadcast query side (dense ranking)
        "rec_assoc_rules",  # 1-row basket-count broadcast
        "edge_zero_vectors",  # broadcast query side (zero-norm ANN)
        "agg_benford",  # 1-row positive-count total broadcast
        "text_annotator_agreement",  # 1-row marginal-product broadcast
        "text_corpus_drift",  # 2-row slice-totals broadcast
    }
    offenders = {}
    for name, plan in _registry_plans(spark).items():
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            flags.append("bnlj")
        if flags:
            offenders[name] = flags
    assert not offenders, f"forbidden join shapes: {offenders}"


def test_substring_index_shuffles_hash_not_gram(spark):
    """dedup_substring: the inverted-index distinct and the candidate
    equi-join must key on xxhash64(gram) (8 bytes), never the raw
    k-char gram string — at 100 TB the index shuffle carries one row
    per character position of the corpus, so a 32-char string key is
    a 4x byte tax over the hash. The exact contains() verify absorbs
    hash-collision false candidates, so this is semantics-free. Skew
    lever: raising k thins gram buckets; the join itself stays a
    hash/sort-merge equi-join, which AQE's skew-join handling can
    split (never a cartesian/BNLJ)."""
    import re

    plan = _plan(entry.q_dedup_substring(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan, "index join key must be hashed"
    # No exchange may carry the raw gram string (__g#N); the hashed
    # key __gh#N is fine. (\b keeps __gh from matching __g.)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert not re.search(r"__g#\d", keys), (
            f"raw gram string in shuffle key: {m.group(0)[:120]}"
        )
    # Broadcast exchanges (probe side at small SF) must also ship the
    # hash, not gram strings: every broadcast mode input here is a
    # bigint/struct, never the raw __g string column — cheap proxy:
    # the string gram column name must not appear in any broadcast row.
    for m in re.finditer(r"BroadcastExchange [^\n]*", plan):
        assert not re.search(r"__g#\d", m.group(0)), (
            f"raw gram string broadcast: {m.group(0)[:120]}"
        )


def test_ds2_rollup_single_expand_one_shuffle(spark):
    """ds2_channel_rollup: the 3 grouping sets must come from ONE
    Expand feeding one partial-agg shuffle — never one fact scan per
    grouping set (the DS-report scale contract)."""
    plan = _plan(entry.q_ds2_channel_rollup(spark, SF))
    assert plan.count("Expand") == 1, "expected exactly one Expand"
    # two fact scans are the channel union's sales/returns branches;
    # a third would mean a per-grouping-set re-scan
    assert plan.count("FileScan parquet") <= 3  # 2x lineitem + 1 orders
    assert "partial_" in plan or "HashAggregate" in plan


def _window_groups(line: str) -> list:
    """Top-level [...] groups after 'Window ' in a physical-plan line.
    Partitioned windows print THREE groups ([exprs], [partition],
    [order]); two-group windows are partition-only (fine) or
    order-only / frame-only (single-task)."""
    rest = line[line.index("Window ") + len("Window "):]
    depth, groups, cur = 0, [], []
    for ch in rest:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _tree_indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*("))


def test_no_unpartitioned_window_over_unbounded_input(spark):
    """Sweep EVERY registered query's physical plan for Window nodes
    with an EMPTY partition spec — the plan shape that funnels the
    whole input through ONE task (the r9 verdict's agg_deciles
    finding, since rewritten via operators/ranking). A hit passes
    only if:

    - a TakeOrderedAndProject / WindowGroupLimit sits BENEATH it (the
      pushed-limit top-k pattern: Catalyst bounds the window's input
      to k rows per partition before the sort), or
    - the query is on the allowlist below with a justification that
      its window input is a provably-bounded aggregate (dozens of
      rows at ANY corpus size — a deliberate scalar/merge step, not a
      scaling risk).

    Red-on-revert: restoring agg_deciles' old global ntile (or adding
    any new un-partitioned window over raw/fact rows) fails this
    sweep."""
    import re

    BOUNDED_OK = {
        # sum(n_docs) OVER () over the per-fold aggregate: ≤ k_folds
        # rows reach the window at any corpus size
        "sample_kfold",
        # sum(n_full) OVER () over the per-stratum aggregate (bounded
        # by the stratum universe, ~dozens)
        "sample_ks_audit",
        # dense_rank over the per-micro-batch ack aggregate: ≤ #trigger
        # batches rows (8 for the gate constants)
        "f4_rate_update",
        # cumulative sum ordered by month over a per-month aggregate:
        # bounded by the calendar, not the corpus
        "ds6_channel_cumulative",
        # prefix-max merge over per-range-bucket maxima (the r8
        # skyline rework): bounded by the fixed bucket count
        "rel_skyline",
    }
    offenders = {}
    for name, plan in _registry_plans(spark).items():
        lines = plan.splitlines()
        hits = []
        for idx, line in enumerate(lines):
            stripped = re.sub(r"^[\s:+\-*(]+", "", line)
            if not stripped.startswith("Window "):
                continue
            gs = _window_groups(line)
            unpart = False
            if len(gs) == 2:
                # order spec (ASC/DESC) in group 2 → un-partitioned
                # ordered window; frame-only windowspecdefinition →
                # un-partitioned whole-table window
                if re.search(r" (ASC|DESC)\b", gs[1]):
                    unpart = True
                if "windowspecdefinition(specifiedwindowframe" in gs[0]:
                    unpart = True
            elif len(gs) <= 1:
                unpart = True
            if not unpart:
                continue
            base = _tree_indent(line)
            guarded = False
            for child in lines[idx + 1:]:
                if _tree_indent(child) <= base:
                    break
                if (
                    "TakeOrderedAndProject" in child
                    or "WindowGroupLimit" in child
                ):
                    guarded = True
                    break
            if not guarded:
                hits.append(line.strip()[:120])
        if hits and name not in BOUNDED_OK:
            offenders[name] = hits[0]
    assert not offenders, (
        f"un-partitioned windows over unbounded input: {offenders}"
    )


def test_no_low_cardinality_order_contract_window(spark):
    """Sweep EVERY registered query's plan for ORDER-CONTRACT windows
    (running frames / rank functions: unboundedpreceding..currentrow)
    whose partition spec would bound parallelism by a small key
    domain — the r10 verdict's byte-budget-packing finding: a
    running-sum window partitioned on media_type (2 values) funnels
    the whole corpus through 2 tasks while LOOKING partitioned, which
    is exactly why the empty-partition-spec sweep can't catch it.

    A hit passes only if one of:

    - the partition spec contains a block-composition pid column
      (__cb_pid from batching.running_sums_distributed, __gr_pid from
      ranking.global_rank) — parallelism scales with the partition
      count, not the key domain;
    - a WindowGroupLimit / TakeOrderedAndProject sits BENEATH it
      (Catalyst's pushed top-k bounds each partition's window input
      to k rows before the sort);
    - the query is allowlisted below with a per-entry justification
      that the partition key's cardinality scales with the corpus
      (per-user/per-doc/per-query streams) or that the window input
      is a domain-bounded aggregate (calendar, buckets, group
      domain), not raw fact rows.

    Red-on-revert: restoring pack_sequences / multimodal_pack_budget /
    w5_rank_suite / sample_token_budget / agg_gini to their plain
    per-contract-key windows fails this sweep (their keys — lang,
    media_type, o_orderpriority, c_nationkey — are not allowlisted)."""
    import re

    # Partition keys whose cardinality scales with the corpus: one
    # bounded stream per user/doc/query/fingerprint. Skew is the only
    # hazard, the same one the reference documents for partition_by
    # (lib/broadway.ex:579-597); AQE skew handling applies.
    SCALING_KEY = re.compile(
        r"(user_id|custkey|query_id|doc_id|vec_id|suppkey|partkey"
        r"|neighbor_id|__qid|__vid|id_a|fp|item|batch_key|session)#\d"
    )
    BOUNDED_INPUT_OK = {
        # window over per-(channel, year) aggregate rows: calendar ×
        # 3-channel domain (~tens of rows at any corpus size)
        "ds4_top_channel_years",
        "ds5_channel_yoy",
        "ds6_channel_cumulative",
        # window over rollup GROUP rows: brand domain (25 in TPC-H
        # spec) × calendar years — domain-bounded, not corpus-bounded
        "ds9_rollup_topk",
        # window over nations × years aggregate (ANSI shared text —
        # byte-identical SQL on both engines is the point; its window
        # input is ~200 group rows)
        "sql1_shared_ansi",
        # window over fixed histogram buckets per returnflag
        "sketch_hist_quantile",
        # per-(lang, token) aggregate: vocabulary-bounded (sublinear
        # in corpus), and the rank<=5 filter adds a WindowGroupLimit
        # under Spark 3.5+/4.x when the plan allows
        "text_top_terms",
        # per-micro-batch ack aggregate: ≤ #trigger batches rows
        "f4_rate_update",
        # per-(lvl, ...) rollup rows bounded by the grouping domain
        "rel_skyline",
    }
    FRAME = "unboundedpreceding$(), currentrow$()"
    offenders = {}
    for name, plan in _registry_plans(spark).items():
        lines = plan.splitlines()
        hits = []
        for idx, line in enumerate(lines):
            stripped = re.sub(r"^[\s:+\-*(]+", "", line)
            if not stripped.startswith("Window "):
                continue
            gs = _window_groups(line)
            if len(gs) != 3:
                continue  # un-partitioned forms: previous sweep's job
            if FRAME not in gs[0]:
                continue  # no order contract (lag/lead/whole-frame)
            part = gs[1]
            if "__cb_pid" in part or "__gr_pid" in part:
                continue  # block-composed by construction
            if SCALING_KEY.search(part):
                continue  # per-entity stream, cardinality ~ corpus
            base = _tree_indent(line)
            guarded = False
            for child in lines[idx + 1:]:
                if _tree_indent(child) <= base:
                    break
                if (
                    "TakeOrderedAndProject" in child
                    or "WindowGroupLimit" in child
                ):
                    guarded = True
                    break
            if not guarded:
                hits.append(f"partition=[{part[:80]}]")
        if hits and name not in BOUNDED_INPUT_OK:
            offenders[name] = hits[0]
    assert not offenders, (
        "order-contract windows partitioned by low-cardinality keys "
        f"(corpus funnels through |key| tasks): {offenders}"
    )
