"""Benchmark harness: runs the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total-sec>, "unit": "sec",
     "queries": {name: sec, ...}, "plans": {name: fp8, ...}, "sf": <sf>}

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect), mirroring how the plan would execute against a
real sink at scale.

Hardening against this host's up-to-4× wall-clock variance:

- INTERLEAVED median-of-3: three full passes over the suite, one
  timing per query per pass, median reported. A transient load spike
  inflates one pass of many queries instead of all samples of one
  query (the round-1 h3_top_orders false alarm: a min-of-2 back-to-back
  pair landed entirely inside a spike).
- Plan fingerprints: an 8-hex hash of the normalized initial physical
  plan per query, so a plan regression (lost broadcast, extra shuffle)
  is visible in BENCH_r{N}.json diffs even when timing noise hides it.
- HOST CALIBRATION (r12 verdict item 1): a fixed, data-independent
  scan+shuffle+agg job (24M-row range, hash keys, two aggregates, noop
  sink) is sampled once before each pass and once after the last;
  the median over those samples against the committed idle-host
  reference (BASELINE.md "Host calibration") yields
  ``calibration.ratio``. When the ratio drifts beyond
  CALIBRATION_MAX_DRIFT the JSON carries ``"comparable": false`` —
  the harness itself flags a slow host window as non-comparable, so a
  +20% uniform wall shift (the BENCH_r12 event) can no longer read as
  a code regression. Raw timings are always reported unmodified.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from broadway_spark import get_spark  # noqa: E402
from broadway_spark.operators import materialize as matz  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# Idle-host median of the calibration job (9 samples, 2026-08-16,
# load < 0.5 — BASELINE.md "Host calibration"). The job is fixed
# forever; re-baseline only with a BASELINE.md entry explaining why.
CALIBRATION_REF_S = 1.15
CALIBRATION_MAX_DRIFT = 0.15  # ratio beyond 1±this => non-comparable


def _calibration_sample(spark) -> float:
    """One timed run of the fixed calibration job: a 32-partition 24M
    range scan, multiplicative-hash keys into ~1M groups, a shuffle
    aggregate, a scalar reduce, noop sink. Data-independent (no
    sf_dir), touches the same machinery the suite does (codegen scan,
    hash exchange, partial+final agg), ~1.15 s on an idle host."""
    t0 = time.time()
    (
        spark.range(0, 24_000_000, 1, 32)
        .select(
            (F.col("id") * F.lit(2654435761) % F.lit(1000003)).alias("k"),
            F.col("id"),
        )
        .groupBy("k")
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(F.sum(F.col("s") % F.lit(97)).alias("x"), F.sum("c").alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.time() - t0

_NOISE = re.compile(
    r"#\d+L?"  # expression ids
    r"|plan_id=\d+"
    r"|\[id=#?\d+\]"
    r"|file:[^\s,\]]+"  # input paths
    r"|Statistics\([^)]*\)"
)


def _split_top(s: str) -> list[str]:
    """Split on commas at bracket/paren depth 0 — `decimal(18,2)` or a
    nested `[a, b]` / rewritten `{a, b}` stays one piece (the naive
    `.split(",")` the r7 advisor flagged reassembled such fragments
    out of order). Depth tracks only the BALANCED pair characters
    `([{`/`)]}` — `<`/`>` are deliberately excluded and depth is
    clamped at 0: a bare comparison `(x > 5)` or lambda arrow in an
    aggregate expression would otherwise drive depth negative and
    silently disable all further splitting (non-canonical output);
    the cost is that `struct<a,b>` type args fragment-split, which
    stays canonical because sorting a fragment multiset is input-
    order independent."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}" and depth > 0:
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _sort_brackets(s: str) -> str:
    """Canonicalize every [...] group in `s` by sorting its top-level
    items (nesting-aware), innermost-out. Applied ONLY to plan nodes
    whose bracket lists Spark emits in hash-set order (Expand
    projections / aggregate grouping sets from the multi-distinct
    rewrite) — order-significant lists (Sort keys, window ORDER BY
    specs) elsewhere in the plan are left untouched.

    Bare-integer atoms are masked to N before sorting: Expand
    projections carry the gid as a positional integer literal
    ([..., null, 1]), and the rewrite ASSIGNS those digits in
    hash-set order — two runs attach gid 1 to different projection
    lists, so without the mask the sorted outer list still differs
    run-to-run (found when the structured splitter replaced the old
    flatten-all-atoms behavior, which had destroyed the digit-to-list
    attachment and was accidentally canonical)."""
    flat = re.compile(r"\[([^\[\]]*)\]")

    def canon(m):
        items = [
            "N" if re.fullmatch(r"\d+", p) else p
            for p in _split_top(m.group(1))
        ]
        return "{" + ", ".join(sorted(items)) + "}"

    prev = None
    while prev != s:
        prev = s
        s = flat.sub(canon, s)
    return s


# Physical-plan nodes whose attribute lists the multi-distinct rewrite
# enumerates in hash-set order (flips run to run — observed on
# agg_multi_distinct / pipeline_profile: three calls, three hashes).
_HASHSET_NODE = re.compile(
    r"\b(Expand|HashAggregate|ObjectHashAggregate|SortAggregate)\b([^\n]*)"
)


def _canon_brackets(s: str) -> str:
    """Sort bracket-list contents on hash-set-ordered nodes only; the
    rest of the plan string (sort keys, window order specs, projection
    lists) keeps its order — a sort-key flip must change the
    fingerprint (r7 advisor item 1)."""
    return _HASHSET_NODE.sub(
        lambda m: m.group(1) + _sort_brackets(m.group(2)), s
    )


def _mask_cached_subtrees(s: str) -> str:
    """Drop everything BELOW an InMemoryRelation node. The relation
    inlines its cached child plan — an AdaptiveSparkPlan frozen in
    whatever state (isFinalPlan, ResultQueryStage numbering) the FIRST
    query to materialize that table left it in, so any query reading a
    shared `materialize()` table would churn its fingerprint whenever
    suite composition or execution order changes (r9 finding: three
    untouched queries' fingerprints moved between rounds purely via
    this). The cached CONTENT is the producing query's plan, already
    fingerprinted under its own name; here only the fact that a cache
    is read matters."""
    out = []
    skip_deeper_than = None
    for line in s.split("\n"):
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_deeper_than is not None:
            if indent > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "InMemoryRelation" in line:
            skip_deeper_than = indent
            out.append(line.split("InMemoryRelation")[0] + "InMemoryRelation [CACHED]")
            continue
        out.append(line)
    return "\n".join(out)


def plan_fingerprint(df) -> str:
    """8-hex digest of the initial physical plan, normalized so
    expression ids / paths / stats / attribute-list ORDER don't churn
    the hash."""
    try:
        s = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return "noplan"
    s = _mask_cached_subtrees(s)
    s = _NOISE.sub("", s)
    # The multi-distinct rewrite assigns gid literals in hash-set
    # order (flips run to run); mask the number BEFORE sorting —
    # raw gid digits acting as sort keys would reintroduce the very
    # churn the mask kills (two runs sort 'gid = 1' items into
    # different slots, then mask to different strings).
    s = re.sub(r"\bgid = \d+\b", "gid = N", s)
    # Node-scoped bracket sorting runs while nodes are still one line
    # each (the _HASHSET_NODE regex is line-bounded).
    s = _canon_brackets(s)
    s = re.sub(r"\s+", " ", s)
    # ...and emits its Expand exchange keys in hash-set order too:
    # sort hashpartitioning argument lists (nesting-aware split so
    # decimal(18,2) casts stay intact).
    s = re.sub(
        r"hashpartitioning\(([^()]*)\)",
        lambda m: "hashpartitioning("
        + ", ".join(sorted(_split_top(m.group(1))))
        + ")",
        s,
    )
    return hashlib.sha256(s.encode()).hexdigest()[:8]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    spark = get_spark("broadway-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Pin the events-ts legacy conf BEFORE any fingerprinting: the
    # streaming drains set it session-globally mid-suite, and the ts
    # cast chain (hence the plan fingerprint) of every later events
    # query depends on it — pinning makes fingerprints independent of
    # suite order. (_t normalizes either way; results are identical.)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    qs = entrymod.queries()
    # Warm the JVM + parquet footer caches once with the cheapest query
    # so per-query numbers measure the plan, not JIT warmup; warm the
    # calibration job's codegen the same way (its first run costs ~6 s
    # of JIT that is not host signal).
    qs["s1_scan"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    _calibration_sample(spark)

    # Opportunistic comparable-window scheduler (r13 verdict item 1):
    # both r13 runs self-flagged non-comparable — the calibration guard
    # diagnosed a slow host window but could not WAIT for a good one.
    # Probe the calibration job before starting the pass; while the
    # probe runs above the comparability threshold, sleep and re-probe
    # up to a bounded deadline, then proceed regardless (the in-run
    # calibration samples still decide the "comparable" flag exactly
    # as before — raw timings are never modified). The threshold
    # scales with the configured core count: the 1.15 s reference is a
    # local[32] number, so a deliberate low-core run (the driver's
    # scaling measurement) is expected to probe ~32/cpus slower and
    # must not burn the deadline waiting for a window that cannot
    # exist. r15 hardening (r14 verdict item 4): the gate requires TWO
    # consecutive under-threshold probes (a single lucky probe in a
    # thrashing window — r14's driver run gated in at 1.292 after
    # probes of 9.65/7.11/3.52 and then drifted anyway — is not a
    # window), the default deadline drops to 600 s so a hopeless
    # window doesn't burn 15 min of driver time, and env parsing
    # falls back to the documented defaults instead of aborting the
    # run (r14 advice item 5; SPARK_GRAFT_BENCH_WAIT_S <= 0 now skips
    # the probe loop entirely). Tunables (env): SPARK_GRAFT_BENCH_WAIT_S
    # (default 600, <=0 disables), SPARK_GRAFT_BENCH_PROBE_INTERVAL_S
    # (default 120).
    def _env_float(name: str, default: float) -> float:
        try:
            return float(os.environ.get(name) or default)
        except (TypeError, ValueError):
            return default

    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)
    except ValueError:
        cpus = 32
    expected_base = max(1.0, 32.0 / max(1, min(cpus, 32)))
    wait_threshold = expected_base * (1.0 + CALIBRATION_MAX_DRIFT)
    wait_deadline = _env_float("SPARK_GRAFT_BENCH_WAIT_S", 600.0)
    probe_interval = _env_float("SPARK_GRAFT_BENCH_PROBE_INTERVAL_S", 120.0)
    confirm_gap_s = 15.0  # spacing between the two confirming probes
    window_probes: list[float] = []
    wait_t0 = time.time()
    consecutive_ok = 0
    # True only after two consecutive under-threshold probes; None when
    # the probe loop is disabled.
    window_confirmed = False if wait_deadline > 0 else None
    while wait_deadline > 0:
        probe = _calibration_sample(spark)
        window_probes.append(round(probe, 3))
        if probe / CALIBRATION_REF_S <= wait_threshold:
            consecutive_ok += 1
            if consecutive_ok >= 2:
                window_confirmed = True
                break
            # confirm shortly: a second good probe a few seconds later
            # separates a stable window from one lucky sample. No time
            # left to confirm: the run goes ahead in an unconfirmed
            # window rather than accept a single probe.
            if time.time() - wait_t0 + confirm_gap_s > wait_deadline:
                break
            time.sleep(confirm_gap_s)
            continue
        consecutive_ok = 0
        if time.time() - wait_t0 + probe_interval > wait_deadline:
            break
        time.sleep(probe_interval)
    window_waited_s = round(time.time() - wait_t0, 3)

    plans: dict[str, str] = {}
    for name, fn in qs.items():
        plans[name] = plan_fingerprint(fn(spark, sf_dir))
        # Release between queries, as the timing pass does, so no plan
        # reads frames an earlier query cached (graph_pagerank would
        # otherwise plan over graph_triangles' tri_* caches).
        matz.release_all()
        spark.catalog.clearCache()

    calib_samples: list[float] = []
    samples: dict[str, list[float]] = {name: [] for name in qs}
    for _ in range(passes):
        calib_samples.append(_calibration_sample(spark))
        for name, fn in qs.items():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
            # Queries are independent: drop any DataFrames an operator
            # persisted (LSH shingle/prefix tables) so pass N+1 doesn't
            # run under pass N's accumulated storage memory.
            matz.release_all()
            spark.catalog.clearCache()
    calib_samples.append(_calibration_sample(spark))
    timings = {
        name: round(statistics.median(vals), 3) for name, vals in samples.items()
    }
    total = round(sum(timings.values()), 3)

    calib_observed = round(statistics.median(calib_samples), 3)
    calib_ratio = round(calib_observed / CALIBRATION_REF_S, 3)
    comparable = abs(calib_ratio - 1.0) <= CALIBRATION_MAX_DRIFT
    calibration = {
        "reference_s": CALIBRATION_REF_S,
        "observed_s": calib_observed,
        "samples": [round(v, 3) for v in calib_samples],
        "ratio": calib_ratio,
        "max_drift": CALIBRATION_MAX_DRIFT,
        "comparable": comparable,
        # window scheduler evidence: the pre-pass probe log and how
        # long the bench waited for a comparable window (r13 item 1)
        "window_probes": window_probes,
        "window_waited_s": window_waited_s,
        "window_confirmed": window_confirmed,
    }

    def _calibrated(raw):
        # ratio-normalized value, published ONLY for comparable windows:
        # scaling by a >15%-off ratio would dress a flagged window up as
        # a trustworthy number (r13 advice item 3) — raw values and the
        # full calibration block always carry the unmodified evidence.
        if raw is None or not comparable or calib_ratio <= 0:
            return None
        return round(raw / calib_ratio, 3)

    # Machine-readable drains decomposition (r5 verdict item 5): the
    # streaming-drain queries carry ~4-6 s of fixed trigger/state
    # machinery each, independent of data volume. Emit their count and
    # a drains-excluded total so the cross-round per-query trend is
    # parseable without prose.
    drains = getattr(entrymod, "STREAMING_DRAINS", frozenset())
    drain_names = sorted(n for n in timings if n in drains)
    drains_total = round(sum(timings[n] for n in drain_names), 3)
    value_excl_drains = round(total - drains_total, 3)

    # subset50: the fixed CORRECTNESS_r04 sample — the stable
    # apples-to-apples total the round-over-round trend is judged on
    # (the registry grows every round, so neither the headline nor
    # the drains-excluded totals are comparable across rounds).
    subset50_total = None
    r04 = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "CORRECTNESS_r04.json"
    )
    if os.path.exists(r04):
        with open(r04) as f:
            sub = [n for n in json.load(f) if n in timings]
        if sub:
            subset50_total = round(sum(timings[n] for n in sub), 3)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "declared_query_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "plans": plans,
        "sf": sf_val,
        "n_drains": len(drain_names),
        "drains_total": drains_total,
        "value_excl_drains": value_excl_drains,
        "subset50_total": subset50_total,
        "subset50_calibrated": _calibrated(subset50_total),
        # r13 verdict item 1: normalization extended beyond subset50 —
        # null whenever the window is non-comparable (advice item 3)
        "total_calibrated": _calibrated(total),
        "drains_calibrated": _calibrated(drains_total),
        "value_excl_drains_calibrated": _calibrated(value_excl_drains),
        "calibration": calibration,
        "drain_queries": drain_names,
    }
    # Full per-query detail: printed FIRST and persisted to a file, so
    # the driver's bounded stdout tail only has to hold the compact
    # totals line below (the r3 artifact was unparseable because the
    # 88-entry queries+plans dict alone overflowed the tail window).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f)
    print(json.dumps(detail))
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:8]
    )
    print(
        json.dumps(
            {
                "metric": "declared_query_suite_wall_time",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "n_drains": len(drain_names),
                "drains_total": drains_total,
                "value_excl_drains": value_excl_drains,
                "subset50_total": subset50_total,
                "subset50_calibrated": detail["subset50_calibrated"],
                "total_calibrated": detail["total_calibrated"],
                "drains_calibrated": detail["drains_calibrated"],
                "value_excl_drains_calibrated": detail[
                    "value_excl_drains_calibrated"
                ],
                "calibration": calibration,
                "queries": slowest,
                "queries_file": "bench_detail.json",
            }
        )
    )


if __name__ == "__main__":
    main()
