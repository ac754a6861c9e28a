"""Generate PLANS.md: formatted physical plans for the headline
queries with a one-paragraph scale rationale each — the ".explain and
iterate until it's the plan you'd want" discipline, captured as an
artifact. Regenerate with: python scripts/plansdump.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from broadway_spark import get_spark  # noqa: E402

# (query, why this is the plan we want at 100 TB)
HEADLINERS = {
    "pipeline_curriculum": (
        "Curriculum manifest (r10): quality scoring is codegen scalar "
        "work on the scan; the global position is the distributed "
        "rank — range repartition on (tier, hash, doc_id), per-range "
        "row_number, broadcast per-partition offsets — so no task "
        "ever holds the corpus; the per-tier manifest is one hash "
        "aggregate. The order checksum pins every doc's position "
        "without shipping per-doc rows to the oracle compare."
    ),
    "agg_deciles": (
        "Decile report WITHOUT a single-task window (r10 rewrite): "
        "range-partition on (spend DESC, custkey), row_number within "
        "each range partition plus broadcast per-partition offsets = "
        "exact global rank; the tile is a closed-form integer "
        "expression of (rank, n) — bit-identical to ntile(10). No "
        "Window with an empty partition spec anywhere; "
        "test_plan_shapes enforces that registry-wide."
    ),
    "h1_pricing": (
        "Pricing summary: filter reaches the parquet scan as "
        "PushedFilters, projection prunes to the 7 needed columns, and "
        "the aggregate keeps a map-side partial phase — the exchange "
        "carries |flags|×|status| partials, never rows."
    ),
    "p1_enrich": (
        "Bulk enrichment joins broadcast both dimension tables: the "
        "fact table never shuffles; at 1000 executors each task joins "
        "against a local hash map."
    ),
    "dedup_minhash": (
        "MinHash-LSH: signatures are codegen md5 math; candidates come "
        "from a band-value equi-join (shuffle keyed on 16-byte band "
        "hashes), so the exchange is O(n·bands) — never all-pairs."
    ),
    "text_jaccard_pairs": (
        "EXACT Jaccard via AllPairs/PPJoin prefix filtering: candidate "
        "generation is an equi-join on rare prefix tokens with length "
        "and positional filters; no quadratic block anywhere. The "
        "persist materializes the prefix table once for both join "
        "sides."
    ),
    "aj1_asof_clicks": (
        "As-of join as union + ONE keyed sort + running last-value — "
        "no join operator at all, so there is no row explosion to "
        "contain; state per key is a single carried value."
    ),
    "dedup_passage": (
        "Corpus passage dedup: chunking is a per-row slice expression; "
        "the only exchange is keyed on md5 fingerprints (16 bytes/row "
        "regardless of passage size); window state is a min-struct."
    ),
    "sketch_hist_quantile": (
        "Histogram quantile: the scan reduces to (flag, bin) partial "
        "counts map-side — a few hundred rows cross the wire at any "
        "input scale; the quantile is read off the sketch with integer "
        "comparisons."
    ),
    "sim_ann_ivf": (
        "IVF ANN: centroid assignment broadcasts num_centroids rows; "
        "probing is an equi-join on cell ids. The corpus streams once; "
        "nothing is quadratic in it."
    ),
    "ts_interpolate": (
        "Gap-fill: the hour spine explodes inside each user's existing "
        "partitioning; both fills are RUNNING window frames (the "
        "unbounded-following spelling is O(n²) per key in Spark and "
        "is banned repo-wide by a plan-sweep test)."
    ),
    "emb_kmeans": (
        "Lloyd's iterations in integer micro-units: per round one "
        "broadcast of k centroids and one partial-agg shuffle of "
        "k×dim sums — bounded by k, not by rows."
    ),
    "pipeline_near_dedup_keep": (
        "End-to-end near-dedup: band equi-join candidates → "
        "large/small-star CC (O(log² n) rounds, one driver barrier "
        "each) → quality-argmax keeper. Every exchange is keyed on "
        "ids/bands — document text never shuffles."
    ),
    "dedup_embedding_vec": (
        "The Arrow path done right: one shuffle on the blocking key, "
        "then each task computes its block's int64 Gram matrix with "
        "numpy — vectorized, and still oracle-exact because the "
        "matmul is integer."
    ),
    "dedup_substring": (
        "Exact doc-in-doc containment (r6 form): the inverted index "
        "distincts and joins on xxhash64(gram) — every exchange "
        "carries 8-byte keys, never k-char gram strings (~4× fewer "
        "key bytes); the contains() verify absorbs hash collisions, "
        "so the hash key is semantics-free."
    ),
    "sim_ann_pq": (
        "PQ ANN with TRAINED codebooks (r6): each Lloyd round is one "
        "broadcast of the m·num_codes codebook rows plus two "
        "partial-agg shuffles over n·m subvector rows; the trained "
        "codebook materializes once and feeds both corpus encoding "
        "and the query ADC tables; the shortlist bounds exact-cosine "
        "work. Integer micro-unit math end to end — oracle-exact."
    ),
    "ds2_channel_rollup": (
        "DS-style grouping-sets report: the channel union's two "
        "column-pruned fact scans feed ONE Expand (3 grouping sets) "
        "and one partial-agg shuffle — never one scan per grouping "
        "set; the post-union orders join runs once."
    ),
    "sim_ann_ivfpq": (
        "IVF-PQ (r6): the production ANN composition — coarse cells "
        "prune candidates ~num_centroids/nprobe-fold with a broadcast "
        "NLJ against the tiny centroid set BEFORE any ADC work; the "
        "pruned candidate pairs join the compressed n·m code index "
        "and the broadcast query distance tables, so the ADC "
        "aggregate shuffles candidate·m rows keyed (query, id) — not "
        "corpus·m; exact-cosine re-rank touches shortlist·q vectors. "
        "At rest the index is codes + cell ids ≈ 30×+ compression."
    ),
    "ds6_channel_cumulative": (
        "DS-q51 without the full-outer join: ONE conditional "
        "aggregation produces per-month web/store columns, then a "
        "single window pass computes both running sums over ~84 "
        "GROUP rows — no second fact scan, no NULL-patching, "
        "decimal-exact comparison."
    ),
    "graph_triangles": (
        "Degree-ordered triangle counting (r7): edges orient from "
        "their lower-(degree,id) endpoint so wedge fan-out is bounded "
        "by the graph's degeneracy, not max degree; both fat joins "
        "are SHUFFLE_HASH (sorting the ~18M-row wedge stream would be "
        "pure overhead); the edge set materializes once for its five "
        "consumers; the triangle total is Σ(per-vertex)/3, not a "
        "second pass over the triangle subtree."
    ),
    "graph_pagerank": (
        "Iterative PageRank (r7): the degree-ANNOTATED directed edge "
        "list materializes once and feeds every iteration — the "
        "degree join is paid at build time, so each round is exactly "
        "ONE shuffle-hash equi-join (ranks are the small build side) "
        "plus one (dst) partial-agg shuffle (measured 8.5→5.8 s warm "
        "at sf0.1 vs re-joining degrees per round). Integer "
        "micro-unit arithmetic with truncating division — both "
        "engines bit-identical, no float drift across 5 iterations."
    ),
    "graph_edge_strength": (
        "Edge tie strength (r7): per-EDGE common neighbors come free "
        "from the oriented triangle enumeration (one explode + one "
        "keyed shuffle of triangle rows) — NOT the all-pairs "
        "common-neighbor wedge join, which is Σ C(deg,2) ≈ 4× the "
        "oriented fan-out on this graph. Jaccard denominators from "
        "the degree table; integer ppm end to end."
    ),
    "ds8_time_bands": (
        "DS-q88 as ONE scan: eight 3-hour bands are conditional "
        "aggregates with map-side partials — not eight scalar "
        "subqueries with eight fact scans; 8 bands or 80, one pass."
    ),
    "pipeline_redaction": (
        "Denylist scrub report (r7): the minimal full-corpus pass — "
        "ONE documents scan, every regex (count + replace + integrity "
        "hash) codegen in the same Project, one partial-agg exchange "
        "on source. bit_xor makes the redacted-text hash partition- "
        "and order-independent, so the audit is stable at any "
        "parallelism."
    ),
    "pack_zorder": (
        "Z-order layout audit (r7): bounds are a broadcast 1-row "
        "aggregate (BNLJ against one row, never a real cartesian); "
        "the Morton interleave is pure integer codegen arithmetic — "
        "no UDF, no bit intrinsics — and the extents report is one "
        "partial-agg shuffle down to 64 bucket rows. The 100 TB form "
        "adds repartitionByRange(z) before the write; the audit side "
        "is unchanged."
    ),
    "rel_skyline": (
        "Skyline (r9 rework): the prefix max over strictly cheaper "
        "price groups is now a RANGE-PARTITIONED MERGE — price groups "
        "bucket by a monotone value-range map, each bucket runs its "
        "local running max in parallel, and a 64-row window derives "
        "the per-bucket carry-in. The only ordered window over "
        "unbounded data is per-bucket; the former global "
        "Window.orderBy single-partition sort is gone."
    ),
    "sim_hybrid_rrf": (
        "Hybrid RRF fusion (r9): the lexical branch is the BM25 plan "
        "(query-term broadcast semi-join kills the corpus before any "
        "shuffle); the dense branch is one corpus scan against a "
        "broadcast 5-vector query side; fusion full-outer-joins two "
        "≤|queries|·k candidate lists — sub-kilobyte at any corpus "
        "size. Integer rrf_ppm keeps the fused ordering "
        "engine-exact."
    ),
    "sketch_cms_heavy_hitters": (
        "Count-min heavy hitters (r9): the sketch is built "
        "ADDITIVELY from per-key partial-agg counts — raw rows scan "
        "once and shuffle once (on the key); the d×w counter tables "
        "are ≤256 cells each and broadcast back to the top-k keys. "
        "At 100 TB the only full-data cost is the one partial "
        "aggregate every frequency query pays anyway."
    ),
    "rec_assoc_rules": (
        "Association rules (r9): pair generation is the within-"
        "basket self-join (baskets ≤7 items → linear in rows, never "
        "all-pairs); degrees and the basket count are broadcast-"
        "sized; support/confidence/lift are integer-ppm with "
        "DECIMAL(38,0) widening BEFORE every product (the overflow-"
        "sweep rule), and the top-k is TakeOrderedAndProject — no "
        "global sort materialization."
    ),
    "evt_ewma_dyadic": (
        "Exact EWMA features (r9): one window pass per user (the "
        "same single sort sessionization pays) ranks recency, dyadic "
        "integer weights make the decayed sum bit-exact at any "
        "parallelism, and the aggregate widens to DECIMAL(38,0) "
        "inside the sum. No self-join, no float accumulation."
    ),
    "agg_hhi_concentration": (
        "HHI concentration (r9): order-free Σshare² — one "
        "broadcast-able dim join, one partial-agg shuffle to "
        "per-customer cents, one ~nations-sized aggregate whose "
        "quadratics widen to DECIMAL(38,0) INSIDE the sums, with the "
        "branch to the identical-IEEE-double form beyond 1e32 "
        "compiled into the same codegen aggregate (the CASE is "
        "visible in the plan's expression tree)."
    ),
    "s30_spool_batch_read": (
        "Custom data source, batch path (r9): DataSource.reader() "
        "over the spool directory plans a BatchScan whose partitions "
        "are the streaming reader's contiguous row-range chunks — "
        "decode fans out per task with no admission (a streaming-only "
        "concern); the aggregate above it is one partial-agg "
        "exchange."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plansdump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# PLANS — headline physical plans, annotated",
        "",
        "Generated by `scripts/plansdump.py` (plan-shape regressions are",
        "caught by `tests/test_plan_shapes.py`; this file is the",
        "human-readable tour). Plans below are AQE initial plans at",
        f"`{sf_dir}`.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n")
        out.append(why + "\n")
        out.append("```")
        out.append(plan.strip()[:4000])
        out.append("```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
